package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the missing last step of every
  * near-dup pipeline: candidate PAIRS (q21/q22/q24/q27) must become
  * CLUSTERS before one canonical document per cluster can be kept, and
  * near-dup similarity is not transitive, so clusters are the connected
  * components of the pair graph.
  *
  * Algorithm: iterative min-label propagation. Each round every node
  * takes the minimum label among itself and its neighbors; at fixpoint
  * every node carries the smallest doc_id of its component (the
  * canonical id). Each round is one join + one hash-agg — all
  * map/shuffle-side, no driver state beyond the convergence counter.
  *
  * Scale: rounds = graph diameter. Near-dup graphs are short, fat
  * clusters (diameter 2-4), so 3-5 rounds cover real corpora; the
  * large-star/small-star variant (Kiveris et al. 2014) gets O(log n)
  * rounds on adversarial chains and is the drop-in upgrade if diameter
  * ever bites. Every round ends in an EAGER `localCheckpoint` — without
  * it the round's logical plan references the previous round twice
  * (join + union), so the plan tree doubles per iteration and planning
  * itself goes exponential long before any data does; checkpointing
  * truncates lineage to one round (a cluster deployment would use
  * `checkpoint` against reliable storage instead). The convergence count
  * is folded into the checkpoint job via an accumulator — one job per
  * round. The edge list shuffles once (distinct) and is reused every
  * round.
  */
object Graph {

  /** Connected components of the undirected graph given by `edges`
    * (one row per edge, endpoints in columns `src` and `dst`). Returns
    * `(node, component)` where `component` is the minimum node id in the
    * node's component. Nodes are every distinct edge endpoint; isolated
    * nodes (no edges) are the caller's own singletons.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIters: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, src, dst, maxIters)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * it ran (including the final no-change round that proves the
    * fixpoint). Pointer jumping bounds this at O(log diameter) — the
    * scale probe asserts that bound on an adversarial path graph, since
    * at 100 TB the round count IS the job count.
    */
  def connectedComponentsWithRounds(edges: DataFrame, src: String, dst: String,
                                    maxIters: Int = 50): (DataFrame, Int) = {
    // symmetrize in ONE pass over `edges` (explode of both orientations):
    // a self-union would compute the caller's whole edge lineage twice —
    // Spark duplicates the subplan under each union branch, no reuse
    val e = edges.select(explode(array(
        struct(col(src).as("a"), col(dst).as("b")),
        struct(col(dst).as("a"), col(src).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .distinct()
      .cache()
    // NOT checkpointed: round 0's own checkpoint truncates the lineage
    // one round later anyway, and the declarative init plan (distinct
    // over the cached symmetric edges) is exactly what round 0's join
    // needs — materializing it separately was one extra job (~1-2 s of
    // the build at local scale) for lineage depth the loop never sees.
    var labels = e.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        // candidate labels: own label ∪ every in-neighbor's label. The own
        // row is tagged so the SAME aggregation yields both the new label
        // and the previous one — the convergence count is then a narrow
        // filter over the checkpointed round, not a second join job
        val own = labels.withColumn("is_own", lit(true))
        val prop = e.join(labels, col("a") === col("node"))
          .select(col("b").as("node"), col("component"), lit(false).as("is_own"))
        // cached: the jump below consumes minNbr on BOTH join sides and
        // Spark plans each subtree independently — uncached, the whole
        // union+groupBy would execute twice per round. The cache fills
        // during the checkpoint job and is dropped at round end.
        val minNbr = own.unionByName(prop)
          .groupBy(col("node"))
          .agg(min(col("component")).as("component"),
            min(when(col("is_own"), col("component"))).as("prev"))
          .cache()
        // pointer jumping: follow the label one step (label-of-label).
        // Plain neighbor-min moves a label ONE hop per round (measured: 10
        // rounds on the sf0.1 pair graph, the last 5 chasing <120 nodes);
        // composing with the jump halves remaining distances each round →
        // O(log diameter). Every label is itself a node id, so the lookup
        // join always hits; left+coalesce guards the invariant anyway.
        val lookup = minNbr
          .select(col("node").as("l_node"), col("component").as("l_comp"))
        val newComp = coalesce(col("l_comp"), col("component"))
        val jumped = minNbr
          .join(lookup, minNbr("component") === lookup("l_node"), "left")
          .select(col("node"), newComp.as("component"),
            // min-propagation is monotone: a change is a strict decrease
            (newComp < col("prev")).as("chg"))
        // Convergence count folded into the checkpoint job: tasks bump an
        // accumulator while the round materializes, so each round is ONE
        // job instead of checkpoint + a second count() pass (driver-side
        // scheduler latency halves — the per-round cost at local scale).
        // A retried task can only over-count a round that already changed;
        // an exactly-zero (terminating) round has nothing to add, so the
        // fixpoint test is exact.
        val acc = edges.sparkSession.sparkContext.longAccumulator(s"cc_changed_$iter")
        val next = jumped.mapPartitions { rows =>
          rows.map { r => if (!r.isNullAt(2) && r.getBoolean(2)) acc.add(1L); r }
        }(org.apache.spark.sql.Encoders.row(jumped.schema))
          .localCheckpoint() // eager: runs the round's job, filling `acc`
        minNbr.unpersist()
        changed = acc.value
        labels = next.select(col("node"), col("component"))
        iter += 1
      }
      (labels, iter)
    } finally e.unpersist()
  }

  /** q45 — near-dup clusters: connected components over the SimHash
    * hamming<=3 pair graph (q24's edges), with the canonical id (min
    * member) and the member count per cluster. Only docs that appear in
    * at least one near-dup pair are emitted — every other doc is its own
    * singleton cluster by definition.
    *
    * Production note — contract exact-dup groups FIRST at corpus scale:
    * map every doc to its q20 canonical and run CC on canonical→canonical
    * edges (self-loops dropped). Exact copies dominate real near-dup
    * graphs, so contraction shrinks the edge set by orders of magnitude,
    * and it provably preserves components (an exact group is internally
    * connected at hamming 0 and its canonical is its min id). The
    * fixture has ZERO exact duplicates (q20: one group per doc), so here
    * contraction is measurable overhead for no reduction — implemented
    * and benched at 8.98 s vs 6.1 s direct, then reverted; the direct
    * pair graph is the honest plan at this data shape.
    */
  /** Memoized components of the simhash pair graph, shared by q45 and
    * q62. The iterative loop's result is RDD-backed (localCheckpoint), so
    * Spark's CacheManager cannot dedupe two invocations by logical plan
    * the way the declarative shared intermediates (shingle index, union
    * ledger) are — an explicit memo is the only way two queries share one
    * CC run. Keyed by the session instance (a restarted session never
    * sees a stale frame) AND the hash tier (the shingle hashes feed the
    * simhash pair graph, so an md5-tier and an xxhash64-tier run are
    * different frames — a differential test evaluating both tiers in one
    * session must not reuse across modes). Entries live until
    * [[clearMemo]] — long-lived interactive sessions should call it when
    * done with the dedup tier, or the cached frame plus its
    * localCheckpoint blocks stay pinned in the block manager.
    */
  private val ccMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private[graft] def simhashComponents(spark: SparkSession, dir: String): DataFrame =
    ccMemo.getOrElseUpdate((spark, dir, graft.functions.TextFns.hashMode), {
      val pairs = Dedup.simhashPairsUnsorted(spark, dir).select(col("da"), col("db"))
      connectedComponents(pairs, "da", "db").cache()
    })

  /** Evict this session's memoized CC frames: unpersists the cached
    * result and drops the reference so the ContextCleaner can release the
    * per-round localCheckpoint blocks. q45/q62 still share one run within
    * a session between clears; the next call after a clear rebuilds.
    *
    * Not atomic w.r.t. concurrent [[simhashComponents]] calls: an entry
    * inserted after the key snapshot survives the clear (stays pinned),
    * and an in-flight consumer of an evicted frame silently recomputes
    * from lineage. Call it only when no q45/q62 query is active — the
    * intended end-of-session / between-bench-phases use.
    */
  def clearMemo(spark: SparkSession): Unit =
    ccMemo.keys.filter(_._1 eq spark).foreach { k =>
      ccMemo.remove(k).foreach(_.unpersist(blocking = false))
    }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val cc = simhashComponents(spark, dir)
    val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    cc.join(sizes, Seq("component"))
      .select(col("node").as("doc_id"), col("component"), col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** q62 — canonical selection per near-dup cluster: the step that turns
    * pair detection into an actual deduplicated corpus. Every clustered
    * doc gets its component (q45's connected components over the simhash
    * pair graph) and its quality score (q18); `keep` marks the cluster's
    * best-quality member (score desc, doc_id tiebreak so double ties are
    * deterministic). Plan: CC labels join the score frame, one window
    * per component — the corpus-sized side is touched once; everything
    * heavy (signatures, pair graph) is shared with q23/q24/q45 via the
    * cached intermediates.
    */
  def canonicalPick(spark: SparkSession, dir: String): DataFrame = {
    val cc = simhashComponents(spark, dir)
    val quality = TextOps.qualityScoreUnsorted(spark, dir)
      .select(col("doc_id"), col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(col("score").desc, col("doc_id"))
    cc.select(col("node").as("doc_id"), col("component"))
      .join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("score"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: q45's recursive-CTE components joined to q18's score
    * formula (the `toks` CTE is shared with the simhash derivation).
    */
  val canonicalPickSql: String = {
    val stops = graft.functions.TextFns.enStops
    s"""WITH RECURSIVE ${Dedup.simhashPairsCtes},
      |pairs AS (
      |  SELECT da, db FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
      |e AS (SELECT da AS a, db AS b FROM pairs
      |      UNION SELECT db, da FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS lbl FROM e
      |  UNION
      |  SELECT e.b AS node, r.lbl FROM reach r JOIN e ON e.a = r.node),
      |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
      |qs AS (SELECT doc_id, len(t) AS n_tokens,
      |  ${graft.functions.TextFns.stopHitsSql(stops)} AS en_hits,
      |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len
      |  FROM toks),
      |sc AS (SELECT doc_id,
      |  least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4 +
      |        (CAST(en_hits AS DOUBLE) / n_tokens) * 0.3 +
      |        least(1.0, (CAST(sum_len AS DOUBLE) / n_tokens) / 10.0) * 0.3 AS score
      |  FROM qs)
      |SELECT comp.node AS doc_id, comp.component, sc.score,
      |  (ROW_NUMBER() OVER (PARTITION BY comp.component
      |    ORDER BY sc.score DESC, comp.node) = 1) AS keep
      |FROM comp JOIN sc ON sc.doc_id = comp.node
      |ORDER BY doc_id""".stripMargin
  }

  /** Oracle: transitive closure by recursive CTE (min reachable id ==
    * min component member because the edge set is symmetric).
    */
  val dedupClustersSql: String = {
    // reuse the simhash pair derivation up to `cand`
    val pairCtes = Dedup.simhashPairsCtes
    s"""WITH RECURSIVE $pairCtes,
      |pairs AS (
      |  SELECT da, db FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
      |e AS (SELECT da AS a, db AS b FROM pairs
      |      UNION SELECT db, da FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS lbl FROM e
      |  UNION
      |  SELECT e.b AS node, r.lbl FROM reach r JOIN e ON e.a = r.node),
      |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
      |sizes AS (SELECT component, count(*) AS n_members
      |          FROM comp GROUP BY component)
      |SELECT node AS doc_id, component, n_members
      |FROM comp JOIN sizes USING (component)
      |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- Triangle counting (q99)

  /** q99 — per-doc triangle counts over the near-dup pair graph: how
    * many mutual near-dup triples each document sits in — the
    * clustering-coefficient numerator that separates a tight duplicate
    * clique (template spam, mirrored boilerplate: every member pairs
    * with every other) from a hub-and-spokes pattern (one popular page
    * many others echo), a distinction q45's components cannot make
    * (both shapes are one component). Same edge set as q24/q45/q62 —
    * the shared simhash signature cache feeds all four.
    *
    * Plan — the degree-ORIENTED wedge join (the classic m^{3/2}
    * enumeration): orient every undirected edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges as
    * a self-equi-join of the oriented list on the CENTER u (two
    * out-edges), and close each wedge against the undirected id-ordered
    * edge list. Each triangle has EXACTLY ONE node whose two triangle
    * edges both point out (the (degree, id)-minimum member), so every
    * triangle is produced exactly once — no distinct, no /3, no /6.
    * Orientation is the load-bearing scale choice: with id-ordering a
    * boilerplate hub of degree d fans out d²/2 wedges from one key,
    * while degree-ordering bounds every node's out-degree by O(√m)
    * (each out-neighbor has degree ≥ the node's own), so wedge work is
    * Σ outdeg² ≤ O(m^{3/2}) — skew-proof by construction, not by AQE
    * rescue. All joins are key equi-joins (node id / (da, db) pair
    * key); counts are exact integers; output ordered by doc_id.
    */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsOf(
      Dedup.simhashPairsUnsorted(spark, dir).select(col("da"), col("db")))
      .orderBy(col("doc_id"))

  /** The triangle engine over an explicit id-ordered `(da < db)` edge
    * frame — the spec drives hand graphs and a naive-reference
    * differential through this seam.
    */
  private[graft] def triangleCountsOf(edges: DataFrame): DataFrame = {
    // eager fill: the closure join consumes `e` as its probe side in
    // the same job that builds the degree/orientation broadcasts from
    // it (the q91 sibling-consumer rule)
    val e = graft.TransientCache.register(
      edges.select(col("da"), col("db")).cache())
    e.count()
    val deg = e.select(explode(array(col("da"), col("db"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val ann = e
      .join(deg.select(col("v").as("da"), col("d").as("dega")), Seq("da"))
      .join(deg.select(col("v").as("db"), col("d").as("degb")), Seq("db"))
    val aFirst = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("da") < col("db"))
    // oriented edge list: u -> v with (deg, id)(u) < (deg, id)(v);
    // cached — BOTH sides of the wedge self-join read it
    val o = graft.TransientCache.register(
      ann.select(
        when(aFirst, col("da")).otherwise(col("db")).as("u"),
        when(aFirst, col("db")).otherwise(col("da")).as("v"))
        .cache())
    // eager fill: BOTH sides of the wedge self-join read `o` inside the
    // final job (with a broadcast side materializing concurrently under
    // AQE) — the same sibling-consumer race as `e` above; without the
    // fill the orientation subplan ran twice (a review-pass finding)
    o.count()
    val wedges = o.as("x").join(o.as("y"),
      col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
    val tri = wedges
      .select(col("a"), col("b"), col("c"),
        least(col("b"), col("c")).as("da"),
        greatest(col("b"), col("c")).as("db"))
      .join(e, Seq("da", "db"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Oracle: the same pair CTEs as q24/q45, then the textbook
    * id-ordered triple join a<b<c (each triangle once) and a member
    * unnest — a deliberately DIFFERENT enumeration (no orientation)
    * whose triangle set provably equals the oriented walk's.
    */
  val triangleCountsSql: String = {
    val pairCtes = Dedup.simhashPairsCtes
    s"""WITH $pairCtes,
      |e AS (SELECT da, db FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
      |tri AS (
      |  SELECT e1.da AS a, e1.db AS b, e2.db AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.da = e1.db
      |  JOIN e e3 ON e3.da = e1.da AND e3.db = e2.db),
      |m AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- k-core (q110)

  /** q110's core order and peel-round budget. The fixture's near-dup
    * graph reaches its 3-core fixpoint in 4–5 peels; 12 is the bounded
    * contract BOTH sides compute (see [[kCoreOf]] — equality with the
    * oracle holds whether or not the fixpoint lands inside the budget).
    */
  val KCoreK = 3
  val KCoreRounds = 12

  /** q110 — k-core of the near-dup pair graph: iteratively peel nodes of
    * degree < k until nothing changes; what survives is the maximal
    * subgraph of minimum degree k — the DENSE template-farm tier of the
    * duplicate graph (q45's components find connectivity, q99's
    * triangles find local density; the k-core finds the globally dense
    * nucleus a crawl pipeline deduplicates most aggressively).
    *
    * The operator's CONTRACT is "peel at most [[KCoreRounds]] rounds,
    * stopping early at the fixpoint" — bounded-budget semantics chosen
    * so the oracle can be an UNROLLED 12-round SQL chain and equality is
    * structural either way: if the fixpoint lands at round f ≤ 12, every
    * later unrolled round is a no-op and round-12 ≡ round-f (what the
    * early stop returns); if it doesn't, both sides compute exactly 12
    * peels. Adversarial peel depth is real (a k=2 path graph peels two
    * ends per round — O(n) rounds), so production callers pass their own
    * budget exactly like [[pageRank]]/[[connectedComponentsWithRounds]],
    * and the round budget IS the job count at 100 TB.
    *
    * Iteration discipline: each peel is one degree hash-agg + two
    * semi-joins, eagerly `localCheckpoint`ed (the CC/pageRank lineage
    * rule) with the superseded round dropped — only the edge chain
    * roots in it; the FINAL checkpoint registers with TransientCache so
    * the harness drain reclaims its blocks (the q91 r11 finding).
    * Fixpoint detection is the edge COUNT (peels only remove, so count
    * equality ⇔ set equality) read off the already-materialized
    * checkpoint — no extra job.
    */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    kCoreOf(Dedup.simhashPairsUnsorted(spark, dir).select(col("da"), col("db")),
      KCoreK, KCoreRounds)
      .orderBy(col("doc_id"))

  private[graft] def kCoreOf(edges: DataFrame, k: Int,
                             maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1,
      s"kCoreOf needs k >= 1 and maxRounds >= 1 (got k=$k, " +
        s"maxRounds=$maxRounds): rounds=0 would label raw degrees a k-core")
    var alive = edges.select(col("da"), col("db")).localCheckpoint(true)
    var n = alive.count()
    var fixed = false
    var r = 0
    while (!fixed && r < maxRounds) {
      val deg = alive.select(explode(array(col("da"), col("db"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("v"))
      val next = alive
        .join(keep.select(col("v").as("da")), Seq("da"), "left_semi")
        .join(keep.select(col("v").as("db")), Seq("db"), "left_semi")
        .localCheckpoint(true)
      val m = next.count()
      r += 1
      if (m == n) { fixed = true; graft.TransientCache.unpersistCheckpoint(next) }
      else { graft.TransientCache.unpersistCheckpoint(alive); alive = next; n = m }
    }
    graft.TransientCache.registerCheckpoint(alive)
    alive.select(explode(array(col("da"), col("db"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("core_degree"))
  }

  /** Oracle: the same peel UNROLLED to the full [[KCoreRounds]] budget —
    * no recursion (recursive-CTE aggregation over the recursive term is
    * not portable SQL), every round a pair of CTEs (degree-keep, edge
    * restriction); rounds past the fixpoint are no-ops by construction.
    * Every round CTE is MATERIALIZED: each is referenced 2–3 times, and
    * DuckDB's default inlining re-expands the whole upstream chain per
    * reference — 12 unrolled rounds of that exhausted the process fd
    * limit re-opening the parquet scan (observed; materialization makes
    * the chain evaluate once per round, the shape the Spark side runs).
    */
  val kCoreSql: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""k$i AS MATERIALIZED (
        |  SELECT v FROM (SELECT unnest([da, db]) AS v FROM a${i - 1})
        |  GROUP BY v HAVING count(*) >= $KCoreK),
        |a$i AS MATERIALIZED (
        |  SELECT da, db FROM a${i - 1}
        |  WHERE da IN (SELECT v FROM k$i) AND db IN (SELECT v FROM k$i))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.simhashPairsCtes},
      |a0 AS MATERIALIZED (
      |  SELECT da, db FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
      |$rounds
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS core_degree
      |FROM (SELECT unnest([da, db]) AS doc_id FROM a$KCoreRounds)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------- PageRank (q91)

  /** Fixed iteration count for the q91 oracle query. Three power
    * iterations are enough to separate hubs from leaves (the spec pins
    * the star-graph ordering after one); production callers pass their
    * own budget — each iteration is one join + one hash-agg, so at
    * 100 TB the iteration count IS the job count, exactly the
    * [[connectedComponentsWithRounds]] accounting.
    */
  val PrIters = 3

  /** PageRank over a directed edge list by unrolled power iteration —
    * the centrality half of the graph tier ([[connectedComponents]] is
    * the partition half): near-dup clusters, supplier/part importance,
    * and link-quality scores (the Common-Crawl-style quality signal a
    * training-data pipeline ranks domains with) are all this walk.
    *
    * Contract: every node must have at least one out-edge AND one
    * in-edge (symmetrized graphs satisfy both by construction — see
    * [[supplierPartRank]]); dangling nodes would leak probability mass
    * and drop out of the iteration. Damping 0.85 and the teleport mass
    * 0.15 are written as separate literals, NOT `1.0 - 0.85`: both
    * engines parse the literal `0.15` to the same IEEE double, while
    * the subtraction yields the neighboring ulp (0.15000000000000002).
    *
    * Plan: the edge list is deduped, degree-annotated and cached ONCE;
    * each iteration equi-joins ranks to edges on the source key and
    * hash-aggregates contributions on the destination key — both
    * shuffles on node ids, partial aggs map-side, nothing driver-bound
    * (the node count rides as a broadcast 1-row frame). Per-node
    * contribution sums are an ordered fold over in-neighbors (sorted by
    * contributor id) so the doubles are bit-identical across engines and
    * partitionings.
    */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iters: Int = PrIters,
               assumeDeduped: Boolean = false): DataFrame =
    pageRankImpl(edges, src, dst, iters, assumeDeduped)

  /** Lineage-truncation cadence for caller-supplied iteration budgets:
    * every this-many rounds the rank frame is EAGERLY
    * `localCheckpoint`ed, so a 30-iteration production walk builds
    * bounded-depth plans instead of one 30-deep unchecked tree (the
    * [[connectedComponentsWithRounds]] per-round discipline, amortized
    * — each checkpoint is one extra narrow job over the |nodes|-row
    * rank frame, so every K rounds is the right cadence where CC's
    * every-round one follows from its fixpoint count needing the
    * materialization anyway). The q91 default of [[PrIters]] = 3 rounds
    * never reaches the cadence — its single-DAG plan is untouched.
    * Values are unchanged by construction (checkpointing materializes
    * the same rows), spec'd bit-exact at 12 iterations.
    */
  val PrCheckpointEvery = 5

  private[graft] def pageRankImpl(edges: DataFrame, src: String, dst: String,
                                  iters: Int,
                                  assumeDeduped: Boolean,
                                  checkpointEvery: Int = PrCheckpointEvery): DataFrame = {
    // `assumeDeduped` drops the defensive distinct — a full edge-list
    // shuffle — for callers whose construction is provably
    // duplicate-free (a duplicate edge would inflate both the degree
    // and the contribution, so the contract matters)
    val raw = edges.select(col(src).as("a"), col(dst).as("b"))
    val e = graft.TransientCache.register(
      (if (assumeDeduped) raw else raw.distinct()).cache())
    // Eager fill: the degree aggregation and the e2 join's probe side are
    // INDEPENDENT map stages over `e`, so inside one job both would race
    // the cold cache and each recompute the full symmetrize+distinct
    // (measured: the two ~15 s task-time twins in the sf0.1 profile).
    // One count materializes the deduped edge list once; everything
    // downstream reads the cache.
    e.count()
    // the degree table doubles as the node set (sources cover all nodes
    // under the contract), so ONE aggregation feeds the e2 annotation,
    // the node count and the r0 seed — no separate distinct
    val deg = graft.TransientCache.register(
      e.groupBy(col("a")).agg(count(lit(1)).as("outdeg")).cache())
    // (a, b, outdeg): degree riding on every edge so each iteration's
    // contribution is ONE division `pr/outdeg` (not a second join) —
    // cached once, consumed every round. It is also pre-partitioned by
    // destination and pre-sorted (b, a) INSIDE the cache: every
    // iteration's window (partitionBy node=b, orderBy a)
    // and max_by reduction then find their required distribution and
    // ordering already satisfied by the cached layout, so the
    // per-iteration Exchange AND Sort vanish from the loop — the one
    // layout shuffle is paid once at build instead of once per
    // iteration (guide §2.4 "two operations keyed the same way share
    // one exchange"; §3.3 "key the join so its output partitioning is
    // the one you need"). Correctness does not DEPEND on the layout:
    // the window's required ordering enforces the fold order either
    // way — if the cached ordering were ever not recognised, planning
    // would re-insert the sort, never change a value.
    val e2 = graft.TransientCache.register(
      e.join(deg, Seq("a"))
        .repartition(col("b")).sortWithinPartitions(col("b"), col("a"))
        .cache())
    // node count as data (the q77 total discipline — no driver collect)
    val n = deg.agg(count(lit(1)).as("n"))
    var r = deg.select(col("a").as("node")).crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("n")).as("pr"))
    // the checkpoint that currently backs `r` (if any): superseded
    // blocks are dropped as soon as the NEXT checkpoint materializes —
    // rounds after checkpoint k read only checkpoint k's blocks, so the
    // k-1 blocks are dead weight the moment k's eager job finishes.
    // The FINAL frame's blocks stay pinned: the caller reads them.
    var liveCkpt: DataFrame = null
    for (i <- 1 to iters) {
      // the rank frame is broadcast EXPLICITLY: the ordered fold is the
      // rank-vector-fits regime, and a broadcast probe into the cached
      // (b, a)-laid-out edge list preserves that layout into the window,
      // keeping the iteration exchange-free
      val rS = broadcast(r)
      val contribs = e2.join(rS, e2("a") === rS("node"))
        .select(e2("b").as("node"), (col("pr") / col("outdeg")).as("c"),
          e2("a").as("a"))
      // Ordered left fold as a RUNNING window sum over in-neighbors
      // sorted by contributor id: a bounded-start frame updates ONE
      // aggregation buffer sequentially in frame order (the window
      // contract, not an implementation accident), so the running
      // sum at the LAST in-neighbor row is ((c_a1)+c_a2)+... — and
      // `0.0 + x == x` bitwise for the strictly positive
      // contributions, so it equals the oracle's
      // `list_reduce(list_prepend(0.0, list(c ORDER BY a)))`
      // bit-exactly. A collect_list(struct) + array_sort +
      // higher-order aggregate chain would be interpreted
      // (higher-order functions and ObjectHashAggregate take no
      // codegen) and build a per-node struct array only to fold it
      // away — the window sum and the max_by reduction are
      // codegen-friendly declarative aggregates over primitive
      // columns (guide §4 "prefer built-ins", §1.2 per-task work).
      // Distribution and ordering are pre-satisfied by the cached
      // (b, a) layout of e2 (see its build note), so the loop body
      // plans with ZERO exchanges; max_by reuses the same
      // partitioning (in-edge ids are unique per node, so the
      // max-a row is unambiguous).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("a"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val summed = contribs.withColumn("rs", sum(col("c")).over(w))
        .groupBy(col("node")).agg(max_by(col("rs"), col("a")).as("s"))
      r = summed.crossJoin(broadcast(n))
        .select(col("node"),
          (lit(0.15) / col("n") + lit(0.85) * col("s")).as("pr"))
      if (i % checkpointEvery == 0 && i < iters) {
        val c = r.localCheckpoint(true) // eager: runs the rounds since the last cut
        // safe to drop here (unlike the BPE chain): nothing but the
        // rank chain itself references superseded rounds
        if (liveCkpt != null) graft.TransientCache.unpersistCheckpoint(liveCkpt)
        liveCkpt = c
        r = c
      }
    }
    // the FINAL live checkpoint roots the returned frame's truncated
    // lineage: its blocks stay pinned while the caller consumes the
    // result, then the harness drain reclaims them (registerCheckpoint —
    // an r11 review finding: deep-budget calls otherwise leak pinned RDD
    // blocks per call with no caller-visible handle). The q91 default
    // (iters=3 < cadence) never checkpoints, so registry plans and the
    // per-query drain pins are untouched. The BPE deep chain deliberately
    // does NOT take this: its per-round winner caches root truncated
    // lineage in superseded checkpoints, so reclaiming them would turn a
    // cache eviction into a hard failure (documented at bpeDeepRound).
    if (liveCkpt != null) graft.TransientCache.registerCheckpoint(liveCkpt)
    r
  }

  /** q91 — supplier/part importance: PageRank on the bipartite graph
    * "supplier ships part" from `lineitem`, symmetrized (so the walk is
    * the standard co-purchase/co-supply random walk and the dangling
    * contract holds by construction). A part stocked by many
    * well-connected suppliers outranks a single-source part — the same
    * computation that ranks domains by link mass in a crawl pipeline.
    * Node ids pack both key spaces into one long (`2k` supplier,
    * `2k+1` part) so the iteration state is a narrow (long, double)
    * frame.
    */
  def supplierPartRank(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select((col("l_suppkey") * 2).as("s"), (col("l_partkey") * 2 + 1).as("p"))
      .distinct()
    val sym = base.select(explode(array(
        struct(col("s").as("a"), col("p").as("b")),
        struct(col("p").as("a"), col("s").as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
    // deduped by construction: base is distinct and the two orientations
    // are parity-disjoint (even→odd vs odd→even), so the generic
    // defensive distinct — a full edge-list shuffle — is skipped
    pageRank(sym, "a", "b", PrIters, assumeDeduped = true)
      .select(
        when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("part"))
          .as("kind"),
        shiftright(col("node"), 1).as("key"), col("pr"))
      .orderBy(col("kind"), col("key"))
  }

  /** Oracle: the three power iterations unrolled as a CTE chain (r0 →
    * c1/r1 → c2/r2 → c3/r3), each contribution sum the same
    * in-neighbor-ordered `list_reduce` fold as the Spark side. The
    * symmetrized edge set uses UNION ALL: supplier→part rows are even→odd
    * and part→supplier odd→even, so the two orientations are disjoint by
    * parity and the distinct base makes each side duplicate-free.
    */
  val supplierPartRankSql: String = {
    def round(ci: String, prev: String, ri: String): String =
      s"""$ci AS (SELECT e2.b AS node, r.pr / e2.outdeg AS c, e2.a AS a
        |  FROM e2 JOIN $prev r ON r.node = e2.a),
        |$ri AS (SELECT node, CAST(0.15 AS DOUBLE) / n.n + CAST(0.85 AS DOUBLE) *
        |    list_reduce(list_prepend(0.0, list(c ORDER BY a)), (x, y) -> x + y) AS pr
        |  FROM $ci, n GROUP BY node, n.n)""".stripMargin
    s"""WITH base AS (
      |  SELECT DISTINCT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p FROM lineitem),
      |e AS (SELECT s AS a, p AS b FROM base UNION ALL SELECT p, s FROM base),
      |deg AS (SELECT a, count(*) AS outdeg FROM e GROUP BY a),
      |n AS (SELECT count(*) AS n FROM deg),
      |e2 AS (SELECT e.a, e.b, deg.outdeg FROM e JOIN deg USING (a)),
      |r0 AS (SELECT a AS node, CAST(1.0 AS DOUBLE) / n.n AS pr FROM deg, n),
      |${round("c1", "r0", "r1")},
      |${round("c2", "r1", "r2")},
      |${round("c3", "r2", "r3")}
      |SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS kind,
      |  node >> 1 AS key, pr
      |FROM r3 ORDER BY kind, key""".stripMargin
  }
}
