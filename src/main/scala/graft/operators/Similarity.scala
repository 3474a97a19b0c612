package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over `embeddings` (64-dim float vectors):
  * brute-force cosine top-k (the exact baseline), random-hyperplane LSH
  * bucketed ANN (the scale path), and thresholded near-dup pairs with
  * label blocking. Training-data pipeline extensions (no reference
  * counterpart); the LSH scheme is Charikar'02 random hyperplanes.
  *
  * Numeric portability: all vector math is double-precision with an
  * explicit left-to-right fold (`aggregate(zip_with(...))` here,
  * `list_reduce(list_transform(...))` in the DuckDB oracle) so dot
  * products are bit-identical across engines. Scores are emitted UNROUNDED:
  * round() itself is the one non-portable op (Spark's BigDecimal HALF_UP vs
  * DuckDB's float rounding differ by 1 ulp at decimal boundaries).
  *
  * Scale design: the query side is tiny and broadcast — the corpus side is
  * never shuffled for brute force (map-side join + per-query top-k via
  * window over q_id). The LSH variant buckets both sides (equi-join on
  * bucket id) so the pair count drops from |Q|·|C| to collisions only;
  * at 100 TB the bucket join is the only shuffle and AQE handles bucket
  * skew. An IVF variant would swap the bucket fn for k-means cells; the
  * plumbing (bucket → equi-join → per-query top-k) is identical.
  */
object Similarity {

  val TopK = 5
  val AnnK = 3
  val NumPlanes = 6
  val NProbe = 2
  val NearDupThreshold = 0.35

  /** Deterministic pseudo-random hyperplanes (Knuth multiplicative hash →
    * uniform in [-0.5, 0.5]); literal constants, identical in the oracle.
    */
  val planes: Seq[Seq[Double]] = Seq.tabulate(NumPlanes) { j =>
    Seq.tabulate(64) { i =>
      ((1L + (j * 64L + i) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5
    }
  }

  /** Left-to-right double fold of elementwise product — the portable dot.
    * Kept for norms/hyperplanes; full cosines use the fused native
    * [[org.apache.spark.sql.graft.CosineSimilarity]] expression, which is
    * bit-identical (same per-accumulator order; VectorExprsSpec) but one
    * codegen'd pass instead of three interpreted lambda folds.
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.cosineSim(a, b)

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y)"

  /** Corpus with double vectors and precomputed L2 norms. */
  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  private val vecsCte =
    s"""vecs AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |vn AS (SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) AS nrm FROM vecs)""".stripMargin

  /** Exact brute-force cosine top-k for the probe queries (vec_id % 100 = 0).
    * The probe side is broadcast; scores are computed map-side against the
    * corpus scan, and the only shuffle is the per-query top-k window
    * (partitioned by q_id — |Q| partitions of |C| rows; at scale, replace
    * with a partial top-k aggregator per partition, same semantics).
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val q = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val cosineTopKSql: String =
    s"""WITH $vecsCte,
      |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM vn WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    ${dotSql("q.qv", "c.v")} / (q.qn * c.nrm) AS score
      |  FROM vn c CROSS JOIN q WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, score,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, score
      |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** LSH bucket id: 6 sign bits from dot products with fixed hyperplanes. */
  private def bucket(v: Column): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dot(v, typedLit(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private val bucketSql: String =
    planes.zipWithIndex.map { case (p, j) =>
      val lit = p.mkString("[", ",", "]")
      s"(CASE WHEN ${dotSql("v", lit)} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Approximate top-k: probes search only their own hyperplane bucket.
    * The corpus→bucket map is one scan; candidate generation is an
    * equi-join on bucket (vs |Q|·|C| brute force) — the LSH recall/cost
    * trade. Same probe set as [[cosineTopK]] so recall is inspectable.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).withColumn("bucket", bucket(col("v")))
    val q = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("bucket"))
    val scored = v.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annLshSql: String =
    s"""WITH $vecsCte,
      |vb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM vn),
      |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM vb WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    ${dotSql("q.qv", "c.v")} / (q.qn * c.nrm) AS score
      |  FROM vb c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, score,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, score
      |FROM ranked WHERE rank <= $AnnK ORDER BY q_id, rank""".stripMargin

  /** IVF-style ANN: a deterministic coarse quantizer (every 125th vector
    * is a centroid — the "train on a sample" step), each corpus vector
    * assigned to its best cosine cell, probes searching their nprobe=2
    * nearest cells for cosine top-k. This is the production ANN shape at
    * 100 TB: the cell assignment is one scan with a broadcast centroid
    * table (|C| small), the index is an equi-join key, and recall/cost is
    * tuned by |C| and nprobe without touching the plumbing.
    */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val cent = v.filter(col("vec_id") % 125 === 1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val cellScores = v.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(col("v"), col("cv")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("c_id"))))
    val assigned = cellScores.filter(col("crn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("cell"))
    val probes = cellScores.filter(col("vec_id") % 100 === 0 && col("crn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("c_id").as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val ivfAnnSql: String =
    s"""WITH $vecsCte,
      |cent AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vn WHERE vec_id % 125 = 1),
      |cs AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.c_id,
      |    ${dotSql("a.v", "c.cv")} / (a.nrm * c.cn) AS csim
      |  FROM vn a CROSS JOIN cent c),
      |cr AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
      |  FROM cs),
      |assigned AS (SELECT vec_id, v, nrm, c_id AS cell FROM cr WHERE crn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id AS cell
      |  FROM cr WHERE vec_id % 100 = 0 AND crn <= $NProbe),
      |scored AS (
      |  SELECT p.q_id, a.vec_id,
      |    ${dotSql("p.qv", "a.v")} / (p.qn * a.nrm) AS score
      |  FROM assigned a JOIN probes p ON a.cell = p.cell
      |  WHERE a.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, score,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, score
      |FROM ranked WHERE rank <= $AnnK ORDER BY q_id, rank""".stripMargin

  /** Embedding near-dup pairs: label blocking (equi-join on label — the
    * blocking key bounds the pair count) + cosine threshold.
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val a = v.select(col("label"), col("vec_id").as("va"), col("v").as("xa"), col("nrm").as("na"))
    val b = v.select(col("label"), col("vec_id").as("vb"), col("v").as("xb"), col("nrm").as("nb"))
    a.join(b, Seq("label")).filter(col("va") < col("vb"))
      .withColumn("score", cosine(col("xa"), col("xb")))
      .filter(col("score") >= NearDupThreshold)
      .select(col("va"), col("vb"), col("label"), col("score"))
      .orderBy(col("va"), col("vb"))
  }

  val embedNearDupSql: String =
    s"""WITH $vecsCte
      |SELECT a.vec_id AS va, b.vec_id AS vb, a.label,
      |  ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS score
      |FROM vn a JOIN vn b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $NearDupThreshold
      |ORDER BY va, vb""".stripMargin

  /** q70 — exact per-label embedding centroids, long format (label,
    * dimension, mean): the class-prototype / cluster-seed computation.
    * Emitted one row per (label, pos) so the oracle compares scalar
    * doubles (no list-typed hash surface). The per-cell mean folds the
    * values in vec_id order — `collect_list(struct(vec_id, val))` merges
    * partial buffers in whatever order partial aggregation delivers,
    * then `array_sort` + an explicit left-to-right `aggregate` fold make
    * the double sum independent of partitioning AND bit-identical to the
    * oracle's ordered `list_reduce` (float→double widening is exact, so
    * both engines fold the same doubles in the same order).
    *
    * Scale note: the ordered fold materializes each (label, pos) group's
    * value list — bounded by docs-per-label, the harness's oracle-parity
    * shape. Plan: posexplode → hash-agg keyed (label, pos), dim×N rows
    * shuffled once, no joins.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("p0", "valf")))
      .select(col("vec_id"), col("label"), (col("p0") + 1).as("pos"),
        col("valf").cast("double").as("val"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).cast("int").as("n_vecs"),
        collect_list(struct(col("vec_id"), col("val"))).as("vs"))
      .select(col("label"), col("pos").cast("int").as("pos"), col("n_vecs"),
        (aggregate(transform(array_sort(col("vs")), s => s.getField("val")),
          lit(0.0), (acc, x) => acc + x) / col("n_vecs")).as("mean"))
      .orderBy(col("label"), col("pos"))

  val labelCentroidsSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(u.i AS INT) AS pos,
      |    CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS val
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
      |g AS (SELECT label, pos, CAST(count(*) AS INT) AS n_vecs,
      |    list(val ORDER BY vec_id) AS vs
      |  FROM e GROUP BY label, pos)
      |SELECT label, pos, n_vecs,
      |  list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_vecs AS mean
      |FROM g ORDER BY label, pos""".stripMargin

  // ------------------------------------------------------------- k-means

  /** k-means geometry: cluster count and fixed Lloyd iterations (the
    * deterministic-oracle shape; production runs to a movement epsilon).
    */
  val KmK = 8
  val KmIters = 2

  /** Portable squared L2: left-to-right fold of (a-b)², same discipline
    * as [[dot]] — bit-identical across engines and partitionings.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  private def sqDistSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> " +
      s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * " +
      s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)])), (x, y) -> x + y)"

  /** Scan-stage best-centroid struct over literal centroids: squared-L2
    * via the ordered fold against each centroid, `array_min(struct(d,
    * cid))` breaking distance ties toward the smaller cid — identical to
    * the oracle's `ORDER BY d, cid`. A pure projection: no join, no
    * shuffle, no broadcast wait. q71/q73 take `.cid` (the argmin); q79
    * also reads `.d` (the prototype distance it ranks on).
    */
  private def kmBest(v: Column, cents: IndexedSeq[Array[Double]]): Column =
    array_min(array(cents.zipWithIndex.map { case (cv, cid) =>
      struct(sqDist(v, typedLit(cv.toSeq)).as("d"), lit(cid).as("cid"))
    }: _*))

  private def kmArgmin(v: Column, cents: IndexedSeq[Array[Double]]): Column =
    kmBest(v, cents).getField("cid")

  /** The Lloyd fit: [[KmIters]] iterations from deterministic seeds (the
    * [[KmK]] smallest vec_ids), returning the FINAL centroids as driver
    * state — O(k·dim), bounded like the checkpoint read. Shared by the
    * q71 assignment and the q73 SemDeDup block key, and MEMOIZED per
    * (session, dir) — the fit is 2·[[KmIters]] full corpus passes, the
    * most expensive derivation in the similarity tier, and a session
    * running q71 and q73 would otherwise pay it twice (the
    * [[Graph.simhashComponents]] discipline; hash mode is irrelevant
    * here — the fit reads only numeric embeddings). Entries are plain
    * driver arrays (no cached RDDs), so [[clearKmeansMemo]] only drops
    * references; eviction + rebuild equality is spec'd in
    * TrainingOpsSpec via [[kmFitCount]].
    */
  private val kmMemo = new graft.ContextMemo[(String, Boolean), IndexedSeq[Array[Double]]]

  /** Test observability: how many Lloyd fits actually ran (memo misses). */
  private[graft] val kmFitCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def kmeansCentroids(spark: SparkSession, dir: String): IndexedSeq[Array[Double]] =
    kmMemo.get(spark, (dir, false))(fitKmeans(spark, dir))

  /** The q89 tier's FROZEN coarse fit: Lloyd over the CORPUS side only
    * (`vec_id % 10 < 8` — the delta tier's seen/incoming convention),
    * memoized beside the shared full-table fit. Incremental honesty is
    * the point: the codebooks an append-only ANN index encodes with were
    * trained before the appended vectors existed, so the fit must never
    * see the batch side ([[appendAnnWith]] encodes, never refits —
    * the FAISS `add()` contract; refit = index rebuild).
    */
  private[graft] def corpusKmeansCentroids(spark: SparkSession, dir: String): IndexedSeq[Array[Double]] =
    kmMemo.get(spark, (dir, true))(
      fitKmeans(spark, dir, corpusOnly = true))

  /** Evict this context's memoized fits — the Lloyd centroids AND the
    * PQ codebooks trained on their residuals (stale codebooks against a
    * fresh coarse fit would quantize the wrong residual space) — and
    * the fixture roots ([[graft.FixtureRoots.clear]]), the q89 codes
    * among them; the next q71/q73/q83 call refits.
    */
  def clearKmeansMemo(spark: SparkSession): Unit = {
    kmMemo.clear(spark)
    pqMemo.clear(spark)
    // the fixture codes quantize the cleared fits' space — a fresh fit
    // with a stale codes table would ADC against the wrong codebooks
    graft.FixtureRoots.clear(spark)
  }

  /** The Lloyd loop: each update is the vec_id-ordered mean, so the fit
    * is bit-identical to the oracle's.
    */
  private def fitKmeans(spark: SparkSession, dir: String,
                            corpusOnly: Boolean = false): IndexedSeq[Array[Double]] = {
    kmFitCount.incrementAndGet()
    val all = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val v = if (corpusOnly) all.filter(col("vec_id") % 10 < 8) else all

    var cents: IndexedSeq[Array[Double]] = v.orderBy(col("vec_id")).limit(KmK)
      .select(col("v")).collect().toIndexedSeq
      .map(_.getSeq[Double](0).toArray)
    // corpora smaller than KmK seed fewer centroids; clamp k to the seed
    // count (the update loop would otherwise index cents(c) out of
    // bounds) — every vector its own cluster is the degenerate-but-sane
    // answer, matching the oracle's row_number() seeding
    require(cents.nonEmpty, s"kmeansCentroids: empty corpus at $dir")
    val k = cents.size

    for (_ <- 1 to KmIters) {
      val means = v.withColumn("cluster", kmArgmin(col("v"), cents))
        .select(col("cluster"), col("vec_id"),
          posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("cluster"), col("pos"))
        .agg(count(lit(1)).as("n"),
          collect_list(struct(col("vec_id"), col("val"))).as("vs"))
        .select(col("cluster"), col("pos"),
          (aggregate(transform(array_sort(col("vs")), s => s.getField("val")),
            lit(0.0), (acc, x) => acc + x) / col("n")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      cents = (0 until k).map(c => means.getOrElse(c, cents(c)))
    }
    cents
  }

  /** q71 — Lloyd k-means over the embedding corpus: the cluster-balance /
    * topic-bucketing primitive behind IVF cells (q31) and mixture
    * shaping. [[KmIters]] iterations from deterministic seeds (the
    * [[KmK]] smallest vec_ids), emitting the final assignment.
    *
    * Architecture is the MLlib-KMeans shape: centroids are O(k·dim)
    * DRIVER state (bounded like the 1-row checkpoint read — never
    * corpus-dependent), inlined as literal arrays into each pass, so
    * assignment is a pure scan-stage projection — squared-L2 via the
    * ordered fold against each literal centroid, argmin via
    * `array_min(array(struct(d, cid)…))` whose lexicographic struct
    * order breaks distance ties toward the smaller cid, identically to
    * the oracle's `ORDER BY d, cid`. No join, no shuffle, no broadcast
    * wait: a first declarative form (corpus × broadcast(centroid rows) +
    * `min(struct)` argmin) measured 2.9 s at sf0.1 — all of it nested
    * tiny-job latency, which the literal-centroid form removes.
    *
    * Update = the q70 centroid discipline: posexplode → (cluster, dim)
    * hash-agg with the vec_id-ordered fold (means bit-identical to the
    * oracle), k·dim rows collected back to the driver; empty clusters
    * keep their previous centroid. Each iteration is ONE job that
    * shuffles dim-rows once for the means agg.
    *
    * Integer-only output (vec_id, cluster): doubles only decide
    * comparisons, and the folds make those bit-identical (doubles
    * round-trip the driver exactly).
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cluster", kmArgmin(col("v"), cents))
      .select(col("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** The oracle's k-means CTE chain — three unrolled Lloyd steps ending
    * at `a3(vec_id, v, cluster)`; shared by q71 and the q73 SemDeDup
    * oracle exactly as [[kmeansCentroids]] is shared in Spark.
    * `where` filters the base vector scan — "" is the shared full-table
    * fit; the q89 oracle passes the corpus restriction so its frozen
    * fit is replicated relationally like everything else.
    */
  private def kmeansCtesFor(where: String): String = {
    def assignCte(scored: String, cents: String) =
      s"""$scored AS (
        |  SELECT e.vec_id, e.v, c.cid, ${sqDistSql("e.v", "c.cv")} AS d
        |  FROM e CROSS JOIN $cents c)""".stripMargin
    def argminCte(name: String, scored: String) =
      s"""$name AS (
        |  SELECT vec_id, v, cid AS cluster FROM (
        |    SELECT vec_id, v, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM $scored) WHERE rn = 1)""".stripMargin
    def updateCte(m: String, c: String, assigned: String, prev: String) =
      s"""$m AS (
        |  SELECT cluster AS cid, CAST(u.i AS INT) AS pos,
        |    count(*) AS n, list(v[CAST(u.i AS INT)] ORDER BY vec_id) AS vs
        |  FROM $assigned, unnest(generate_series(1, len(v))) AS u(i)
        |  GROUP BY cluster, CAST(u.i AS INT)),
        |${m}v AS (
        |  SELECT cid, list(list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n
        |    ORDER BY pos) AS mv
        |  FROM $m GROUP BY cid),
        |$c AS (
        |  SELECT p.cid, coalesce(u.mv, p.cv) AS cv
        |  FROM $prev p LEFT JOIN ${m}v u ON u.cid = p.cid)""".stripMargin
    s"""e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings$where),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $KmK)),
      |${assignCte("s1", "c0")},
      |${argminCte("a1", "s1")},
      |${updateCte("u1", "c1", "a1", "c0")},
      |${assignCte("s2", "c1")},
      |${argminCte("a2", "s2")},
      |${updateCte("u2", "c2", "a2", "c1")},
      |${assignCte("s3", "c2")},
      |${argminCte("a3", "s3")}""".stripMargin
  }

  private val kmeansCtes: String = kmeansCtesFor("")

  val kmeansAssignSql: String =
    s"""WITH $kmeansCtes
      |SELECT vec_id, cluster FROM a3 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------ SemDeDup

  /** Cosine threshold for q73's within-cluster pruning. */
  val SemDedupThreshold = 0.35

  /** q73 — SemDeDup-style semantic dedup (Abbas et al. 2023's shape):
    * embedding-space near-duplicates are pruned WITHIN k-means clusters
    * — the cluster id is the blocking key, so the pairwise cosine pass
    * is cluster-local by construction and the corpus is never self-
    * joined corpus². Composes q71 exactly as q62 composes q45: the
    * shared Lloyd fit ([[kmeansCentroids]]) assigns every vector its
    * cluster in the scan stage (literal centroids, no join), the
    * within-cluster self-equi-join on `cluster` scores candidate pairs
    * with the codegen'd native cosine, and a vector is pruned when a
    * SMALLER vec_id in its cluster is ≥ [[SemDedupThreshold]] similar —
    * the deterministic keep-lowest-id canonical rule (the paper keeps a
    * random/centroid-farthest representative; lowest-id is the
    * order-free, engine-portable choice).
    *
    * Scale: at 100 TB, k grows with the corpus so cluster size stays
    * bounded (the SemDeDup operating point); the join is a plain
    * equi-join on cluster — hash-partitioned, AQE-skew-splittable —
    * and the only all-pairs work is inside a cluster, which is the
    * algorithm's definition, not an implementation accident. Output is
    * (vec_id, cluster, pruned) — integers and a boolean, no doubles to
    * hash-match.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupCapped(spark, dir, SemMaxCluster)

  /** Mega-cluster ceiling for [[semDedup]]: clusters above this row
    * count get the pair-join key refined (~2·10¹² metric calls at
    * (2²⁰)²/2 — far past where one cluster-local block should become a
    * single task's quadratic work). SemDeDup's operating point assumes
    * k grows with the corpus; this is the guard for when it lags. No
    * fixture-scale cluster comes near it, so the oracle sees exactly
    * the uncapped output while the production path runs the guard live
    * — the q51 [[graft.operators.TextOps.FuzzyMaxBlock]] discipline.
    */
  val SemMaxCluster = 1 << 20

  /** q73's pairing with the cluster key refined for oversized clusters:
    * rows of a cluster above `maxCluster` get a secondary deterministic
    * sub-block key — `pmod(hash(vec_id), ceil(n/maxCluster))`, the split
    * factor derived in integer arithmetic — and the pairwise pass joins
    * on (cluster, sub-block), bounding every task at ~maxCluster² work.
    * The oversized set is one hash-agg, bounded by k (never the corpus),
    * and broadcast. Recall trade (deliberate, documented): inside a
    * capped cluster, near-dup pairs falling in different sub-blocks are
    * no longer pruned; clusters at or under the ceiling are
    * byte-identical to the uncapped path (spec'd, including the
    * refined-key plan on a synthetic mega-cluster).
    */
  private[graft] def semDedupCapped(spark: SparkSession, dir: String,
                                    maxCluster: Int): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    // the assignment projection (k ordered squared-L2 folds per row) has
    // FOUR consumers — the guard's size agg, both pair sides, and the
    // final flag lookup; uncached, each re-evaluates the argmin over the
    // corpus (self-join rule). Transient, drained post-query.
    val v0 = graft.TransientCache.register(vecs(spark, dir)
      .withColumn("cluster", kmArgmin(col("v"), cents))
      .cache())
    val big = v0.groupBy(col("cluster")).count()
      .filter(col("count") > maxCluster)
      .select(col("cluster"),
        expr(s"CAST((count + ${maxCluster - 1}) div $maxCluster AS INT)")
          .as("__split"))
    val v = v0.join(broadcast(big), Seq("cluster"), "left")
      .withColumn("blk",
        when(col("__split").isNotNull, pmod(hash(col("vec_id")), col("__split")))
          .otherwise(lit(0)))
      .drop("__split")
    val a = v.select(col("cluster"), col("blk"), col("vec_id").as("va"),
      col("v").as("xa"), col("nrm").as("na"))
    val b = v.select(col("cluster"), col("blk"), col("vec_id").as("vb"),
      col("v").as("xb"), col("nrm").as("nb"))
    val pruned = a.join(b, Seq("cluster", "blk"))
      .filter(col("vb") < col("va"))
      .withColumn("score", cosine(col("xa"), col("xb")))
      .filter(col("score") >= SemDedupThreshold)
      .select(col("va").as("vec_id")).distinct()
      .withColumn("pruned", lit(true))
    v0.select(col("vec_id"), col("cluster"))
      .join(pruned, Seq("vec_id"), "left")
      .withColumn("pruned", coalesce(col("pruned"), lit(false)))
      .orderBy(col("vec_id"))
  }

  val semDedupSql: String =
    s"""WITH $kmeansCtes,
      |nr AS (SELECT vec_id, cluster, v, sqrt(${dotSql("v", "v")}) AS nrm FROM a3),
      |pr AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM nr a JOIN nr b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
      |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $SemDedupThreshold)
      |SELECT n.vec_id, n.cluster, (p.vec_id IS NOT NULL) AS pruned
      |FROM nr n LEFT JOIN pr p ON p.vec_id = n.vec_id
      |ORDER BY n.vec_id""".stripMargin

  // -------------------------------------------------- prototype pruning

  /** q79's keep fraction as an exact rational: keep the `KeepNum/KeepDen`
    * closest-to-prototype vectors per cluster, i.e. rank ≤
    * ceil(n·Num/Den) = floor((n·Num + Den−1)/Den) — integer-derived in
    * both engines (0.8 itself is not binary-exact, so the bound is never
    * computed as `0.8 * n`), with the general Den−1 rounding addend so
    * retuning the fraction keeps the ceiling exact.
    */
  val KeepNum = 4
  val KeepDen = 5

  /** q79 — prototype-distance pruning (Sorscher et al. 2022's "easy
    * example" pruning, the SemDeDup companion from the same data-pruning
    * literature): within each k-means cluster, vectors are ranked by
    * squared-L2 distance to their own prototype (the cluster centroid)
    * and only the closest [[KeepNum]]/[[KeepDen]] fraction is kept —
    * far-from-prototype points are outliers/noise at the corpus level.
    * Composes the MEMOIZED Lloyd fit (the same [[kmeansCentroids]] q71
    * and q73 read — a session running all three pays one fit).
    *
    * Plan: scan-stage `kmBest` projection gives every vector its
    * (distance, cluster) against literal centroids — no join; one
    * shuffle on `cluster` drives both windows (rank by (d, vec_id),
    * cluster size by a full-frame count — integer, order-free). The
    * distance is double but decides only comparisons: ordered folds make
    * it bit-identical cross-engine, and the output carries integers and
    * a boolean only.
    */
  def prototypePrune(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val v = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("best", kmBest(col("v"), cents))
      .select(col("vec_id"), col("best.cid").as("cluster"), col("best.d").as("d"))
    val wRank = Window.partitionBy(col("cluster")).orderBy(col("d"), col("vec_id"))
    val wAll = Window.partitionBy(col("cluster"))
    v.withColumn("rank", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col("vec_id"), col("cluster"), col("rank"),
        (col("rank") <= floor((col("n") * KeepNum + (KeepDen - 1)) / KeepDen)).as("kept"))
      .orderBy(col("vec_id"))
  }

  val prototypePruneSql: String =
    s"""WITH $kmeansCtes,
      |a3d AS (
      |  SELECT vec_id, cid AS cluster, d FROM (
      |    SELECT vec_id, cid, d,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM s3) WHERE rn = 1),
      |r AS (
      |  SELECT vec_id, cluster,
      |    row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id) AS rank,
      |    count(*) OVER (PARTITION BY cluster) AS n
      |  FROM a3d)
      |SELECT vec_id, cluster, CAST(rank AS INT) AS rank,
      |  rank <= floor((n * $KeepNum + ${KeepDen - 1}) / $KeepDen) AS kept
      |FROM r ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ IVF over k-means

  /** q81 — IVF ANN over TRAINED cells: q31's plumbing (cell → equi-join →
    * per-query top-k) with the coarse quantizer swapped from the sampled
    * deterministic centroids to the Lloyd fit — the documented q31 swap,
    * made real. Cells are squared-L2 argmin against the MEMOIZED q71/q73/
    * q79 centroids (scan-stage literal-array projection, no join); each
    * probe searches its [[NProbe]] nearest cells (per-row sort of the k
    * literal distances — k is bounded driver state, so the sort is O(k
    * log k) inside codegen); scoring inside a cell stays cosine, as in
    * q31 (IVF's cell metric and its scoring metric are independent
    * choices). At 100 TB: one scan assigns cells, the probe side is tiny
    * and broadcast, and recall/cost tunes by k and nprobe with zero plan
    * changes — and the fit is already paid for by the dedup/pruning tier.
    */
  def ivfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val v = vecs(spark, dir)
    val assigned = v.withColumn("cell", kmBest(col("v"), cents).getField("cid"))
    val cellRanks = array_sort(array(cents.zipWithIndex.map { case (cv, cid) =>
      struct(sqDist(col("v"), typedLit(cv.toSeq)).as("d"), lit(cid).as("cid"))
    }: _*))
    val probes = v.filter(col("vec_id") % 100 === 0)
      .withColumn("pc", explode(slice(cellRanks, 1, NProbe)))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("pc.cid").as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val ivfKmeansSql: String =
    s"""WITH $kmeansCtes,
      |nr AS (SELECT vec_id, v, cluster, sqrt(${dotSql("v", "v")}) AS nrm FROM a3),
      |pc AS (
      |  SELECT vec_id, cid AS cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crn
      |  FROM s3 WHERE vec_id % 100 = 0),
      |probes AS (
      |  SELECT p.vec_id AS q_id, n.v AS qv, n.nrm AS qn, p.cell
      |  FROM pc p JOIN nr n ON n.vec_id = p.vec_id WHERE p.crn <= $NProbe),
      |scored AS (
      |  SELECT p.q_id, c.vec_id,
      |    ${dotSql("p.qv", "c.v")} / (p.qn * c.nrm) AS score
      |  FROM nr c JOIN probes p ON c.cluster = p.cell
      |  WHERE c.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, score,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, score
      |FROM ranked WHERE rank <= $AnnK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------- IVF-PQ

  /** PQ geometry: [[PqM]] subspaces of [[PqSub]] dims each (the fixture
    * embedding dim is 64, pinned like [[planes]]), [[PqKs]] codes per
    * subspace, [[PqIters]] fixed update iterations (the deterministic-
    * oracle shape, as [[KmIters]]), and [[PqCandK]] ADC candidates kept
    * per query for exact re-ranking. These constants are ONE
    * instantiation of a parametric machinery ([[fitPqGeometry]] /
    * [[ivfPqWith]] take (M, dsub) explicitly): the M=8×8 alternative —
    * half the code bytes' resolution per subspace, twice the subspaces —
    * is trained and searched through the same code paths and spec'd at
    * the same recall floor in TrainingOpsSpec.
    */
  val PqM = 4
  val PqSub = 16
  val PqKs = 8
  val PqIters = 2
  val PqCandK = 64

  /** Best PQ code for a subvector against a literal codebook: squared-L2
    * ordered fold per entry, ties toward the smaller code — the [[kmBest]]
    * discipline one level down.
    */
  private def pqBest(sub: Column, cb: IndexedSeq[Array[Double]]): Column =
    array_min(array(cb.zipWithIndex.map { case (cv, c) =>
      struct(sqDist(sub, typedLit(cv.toSeq)).as("d"), lit(c).as("code"))
    }: _*))

  /** Corpus residuals against the memoized coarse fit: each vector minus
    * its own cell's centroid — the space PQ quantizes. The centroid
    * lookup is `element_at` into one literal k×dim array: scan-stage,
    * no join.
    */
  private def residualFrame(spark: SparkSession, dir: String,
                            cents: IndexedSeq[Array[Double]],
                            corpusOnly: Boolean = false): DataFrame = {
    val centArr = typedLit(cents.map(_.toSeq))
    val v = vecs(spark, dir)
    (if (corpusOnly) v.filter(col("vec_id") % 10 < 8) else v)
      .withColumn("cell", kmBest(col("v"), cents).getField("cid"))
      .withColumn("r", zip_with(col("v"),
        element_at(centArr, col("cell") + 1), (x, c) => x - c))
  }

  private val pqMemo =
    new graft.ContextMemo[(String, Boolean), IndexedSeq[IndexedSeq[Array[Double]]]]

  /** Test observability: how many PQ trainings actually ran. */
  private[graft] val pqFitCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The M per-subspace codebooks, memoized per (context, dir) like the
    * coarse fit they build on ([[kmeansCentroids]] is consulted, never
    * refit — spec'd via both fit counters). Evicted together with the
    * coarse fit by [[clearKmeansMemo]].
    */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String): IndexedSeq[IndexedSeq[Array[Double]]] =
    pqMemo.get(spark, (dir, false))(fitPq(spark, dir))

  /** The q89 tier's FROZEN PQ codebooks: trained on the CORPUS residuals
    * against [[corpusKmeansCentroids]] — see that fit for why the batch
    * side must stay invisible to training. Memoized and evicted together
    * with the coarse fits ([[clearKmeansMemo]]).
    */
  private[graft] def corpusPqCodebooks(spark: SparkSession, dir: String): IndexedSeq[IndexedSeq[Array[Double]]] =
    pqMemo.get(spark, (dir, true))(
      fitPq(spark, dir, corpusOnly = true))

  /** Ordered-fold PQ training at an EXPLICIT geometry — the codebook
    * machinery is parametric in (M, dsub); the default [[PqM]]×[[PqSub]]
    * is one instantiation, and the M=8×8 geometry spec trains through
    * this entry to prove nothing is shape-bound (same recall floor
    * through [[ivfPqWith]], spec'd in TrainingOpsSpec). Requires
    * `pqM * pqSub == dim`.
    */
  private[graft] def fitPqGeometry(spark: SparkSession, dir: String,
                                   pqM: Int, pqSub: Int,
                                   corpusOnly: Boolean = false): IndexedSeq[IndexedSeq[Array[Double]]] =
    fitPq(spark, dir, pqM, pqSub, corpusOnly)

  /** Deterministic PQ training (the per-subspace k-means of Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search"): seeds are
    * the residual subvectors of the [[PqKs]] smallest vec_ids, then
    * [[PqIters]] Lloyd updates. ALL M subspaces train in ONE corpus pass
    * per iteration: the scan emits (m, code, subvector) structs for every
    * subspace (literal-codebook argmin per m — no join), and a single
    * (m, code, pos) hash-agg with the vec_id-ordered fold produces every
    * codebook's means together — M× fewer passes than a per-subspace
    * loop, the same one-shuffle shape as the coarse update. Codebook
    * state is M·Ks·dsub doubles on the driver — bounded like the
    * centroids. Empty codes keep their previous entry.
    */
  private def fitPq(spark: SparkSession, dir: String,
                    pqM: Int = PqM, pqSub: Int = PqSub,
                    corpusOnly: Boolean = false): IndexedSeq[IndexedSeq[Array[Double]]] = {
    pqFitCount.incrementAndGet()
    val cents = if (corpusOnly) corpusKmeansCentroids(spark, dir)
                else kmeansCentroids(spark, dir)
    val res = residualFrame(spark, dir, cents, corpusOnly)
    val seedRows = res.orderBy(col("vec_id")).limit(PqKs)
      .select(col("r")).collect().toIndexedSeq
      .map(_.getSeq[Double](0).toArray)
    require(seedRows.nonEmpty, s"pqCodebooks: empty corpus at $dir")
    require(seedRows.head.length == pqM * pqSub,
      s"PQ geometry ${pqM}x$pqSub must tile the ${seedRows.head.length}-dim space")
    var cbs: IndexedSeq[IndexedSeq[Array[Double]]] = (0 until pqM).map(m =>
      seedRows.map(rv => rv.slice(m * pqSub, (m + 1) * pqSub)))
    for (_ <- 1 to PqIters) {
      val subStructs = array((0 until pqM).map(m =>
        struct(lit(m).as("m"),
          pqBest(slice(col("r"), m * pqSub + 1, pqSub), cbs(m))
            .getField("code").as("code"),
          slice(col("r"), m * pqSub + 1, pqSub).as("sub"))): _*)
      val means = res
        .select(col("vec_id"), explode(subStructs).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.code").as("code"),
          posexplode(col("s.sub")).as(Seq("pos", "val")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(count(lit(1)).as("n"),
          collect_list(struct(col("vec_id"), col("val"))).as("vs"))
        .select(col("m"), col("code"), col("pos"),
          (aggregate(transform(array_sort(col("vs")), s => s.getField("val")),
            lit(0.0), (acc, x) => acc + x) / col("n")).as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
      cbs = (0 until pqM).map(m =>
        cbs(m).indices.map(c => means.getOrElse((m, c), cbs(m)(c))))
    }
    cbs
  }

  /** q83 — IVF-PQ ANN (Jégou et al. 2011): q81's trained coarse cells
    * plus product-quantized residual codes, the memory architecture real
    * 100 TB vector search runs on. The at-rest index row is `cell` + M
    * single-byte codes (4 B here vs 512 B of raw doubles — the reason PQ
    * exists); searching is sketch-then-verify, the q82 discipline:
    *
    *  1. probes rank cells by the literal-centroid distances and take
    *     [[NProbe]] (exactly q81's per-row sort);
    *  2. per (probe, cell), the classic ADC lookup TABLES are computed
    *     once — M arrays of [[PqKs]] distances from the query residual's
    *     subvectors to each codebook entry (a `transform` over the
    *     literal codebook, scan-stage);
    *  3. the candidate scan joins CODES to broadcast probes on cell and
    *     sums M `element_at` table lookups — fixed-width work per row,
    *     never touching the raw vectors;
    *  4. the [[PqCandK]] best by (adc, vec_id) per query are re-ranked
    *     EXACTLY (true-vector cosine, the candidate set is query-bounded
    *     so the join back to vectors is tiny) and [[AnnK]] emitted.
    *
    * Every double is portable: residual subtraction, the sqDist ordered
    * folds, the left-to-right ADC sum over m, and the native cosine —
    * the oracle rebuilds coarse fit, codebooks, codes and ADC
    * relationally (the q82 cross-paradigm differential, here over
    * doubles instead of counters) and hash-matches bit-for-bit.
    */
  def ivfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqWith(spark, dir, pqCodebooks(spark, dir), PqM, PqSub)

  /** q83's search with an explicit codebook set and geometry — proof the
    * machinery is not shape-bound to the default [[PqM]]×[[PqSub]]: the
    * geometry spec runs M=8×8 codebooks (same 64-dim fixture, same
    * [[PqKs]]/[[PqCandK]]) through this path and checks the identical
    * recall floor and no-lost-true-neighbor contract. The default path
    * above delegates here with the memoized codebooks, so the oracle-
    * checked q83 plan is unchanged.
    */
  private[graft] def ivfPqWith(spark: SparkSession, dir: String,
                               cbs: IndexedSeq[IndexedSeq[Array[Double]]],
                               pqM: Int, pqSub: Int): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val centArr = typedLit(cents.map(_.toSeq))
    val res = residualFrame(spark, dir, cents)
    // the PQ index: fixed-width rows, cell + M small codes
    val codes = res.select(Seq(col("vec_id"), col("cell")) ++
      (0 until pqM).map(m =>
        pqBest(slice(col("r"), m * pqSub + 1, pqSub), cbs(m))
          .getField("code").as(s"c$m")): _*)
    val v = vecs(spark, dir)
    val cellRanks = array_sort(array(cents.zipWithIndex.map { case (cv, cid) =>
      struct(sqDist(col("v"), typedLit(cv.toSeq)).as("d"), lit(cid).as("cid"))
    }: _*))
    val probes = v.filter(col("vec_id") % 100 === 0)
      .withColumn("pc", explode(slice(cellRanks, 1, NProbe)))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("pc.cid").as("cell"))
      .withColumn("qr", zip_with(col("qv"),
        element_at(centArr, col("cell") + 1), (x, c) => x - c))
      .select(Seq(col("q_id"), col("qv"), col("qn"), col("cell")) ++
        (0 until pqM).map(m =>
          transform(typedLit(cbs(m).map(_.toSeq)),
            sv => sqDist(slice(col("qr"), m * pqSub + 1, pqSub), sv))
            .as(s"t$m")): _*)
    val adc = (0 until pqM)
      .map(m => element_at(col(s"t$m"), col(s"c$m") + 1))
      .reduce(_ + _) // left-assoc: same fold order as the oracle's list
    val wc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val cand = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adc)
      .withColumn("arn", row_number().over(wc))
      .filter(col("arn") <= PqCandK)
      .select(col("q_id"), col("qv"), col("qn"), col("vec_id"))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    cand.join(v.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= AnnK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** m-th subvector slice in DuckDB — the oracle's `slice(r, m*dsub+1, dsub)`. */
  private def pqSubSql(l: String, m: String): String =
    s"list_slice($l, $m * $PqSub + 1, $m * $PqSub + $PqSub)"

  /** The oracle's PQ chain — residuals, codebook training, the at-rest
    * CODES table — downstream of whichever k-means chain precedes it
    * (`a3`/`c2` from [[kmeansCtesFor]]); shared verbatim by the q83 and
    * q89 oracles exactly as the Spark-side fits are shared (q83 trains
    * on the full table, q89 on the corpus-filtered chain — same text,
    * different upstream `e`).
    */
  private val pqChainCtes: String = {
    def sub(l: String, m: String) = pqSubSql(l, m)
    s"""nr AS (SELECT vec_id, v, cluster, sqrt(${dotSql("v", "v")}) AS nrm FROM a3),
      |res AS (
      |  SELECT a.vec_id, a.cluster AS cell,
      |    list_transform(range(1, len(a.v) + 1),
      |      i -> a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS r
      |  FROM a3 a JOIN c2 c ON c.cid = a.cluster),
      |pseed AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, r
      |  FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT $PqKs)),
      |ms AS (SELECT CAST(u.m AS INT) AS m
      |  FROM unnest(generate_series(0, ${PqM - 1})) AS u(m)),
      |pcb0 AS (SELECT ms.m, p.code, ${sub("p.r", "ms.m")} AS sv
      |  FROM pseed p CROSS JOIN ms),
      |subv AS (SELECT res.vec_id, res.cell, ms.m, ${sub("res.r", "ms.m")} AS sub
      |  FROM res CROSS JOIN ms),
      |${(1 to PqIters).map(i => s"""asg$i AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT s.vec_id, s.m, c.code,
      |      row_number() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY ${sqDistSql("s.sub", "c.sv")}, c.code) AS rn
      |    FROM subv s JOIN pcb${i - 1} c ON c.m = s.m) WHERE rn = 1),
      |updp$i AS (
      |  SELECT a.m, a.code, CAST(u.i AS INT) AS pos, count(*) AS n,
      |    list(s.sub[CAST(u.i AS INT)] ORDER BY s.vec_id) AS vs
      |  FROM asg$i a JOIN subv s ON s.vec_id = a.vec_id AND s.m = a.m,
      |       unnest(generate_series(1, $PqSub)) AS u(i)
      |  GROUP BY a.m, a.code, CAST(u.i AS INT)),
      |updv$i AS (
      |  SELECT m, code,
      |    list(list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n
      |      ORDER BY pos) AS sv
      |  FROM updp$i GROUP BY m, code),
      |pcb$i AS (
      |  SELECT p.m, p.code, coalesce(u.sv, p.sv) AS sv
      |  FROM pcb${i - 1} p LEFT JOIN updv$i u ON u.m = p.m AND u.code = p.code)""").mkString(",\n")},
      |codes AS (
      |  SELECT vec_id, cell, m, code FROM (
      |    SELECT s.vec_id, s.cell, s.m, c.code,
      |      row_number() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY ${sqDistSql("s.sub", "c.sv")}, c.code) AS rn
      |    FROM subv s JOIN pcb$PqIters c ON c.m = s.m) WHERE rn = 1)""".stripMargin
  }

  val ivfPqSql: String = {
    def sub(l: String, m: String) = pqSubSql(l, m)
    s"""WITH $kmeansCtes,
      |$pqChainCtes,
      |pc AS (
      |  SELECT vec_id, cid AS cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crn
      |  FROM s3 WHERE vec_id % 100 = 0),
      |qres AS (
      |  SELECT p.vec_id AS q_id, p.cell,
      |    list_transform(range(1, len(n.v) + 1),
      |      i -> n.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS qr
      |  FROM pc p JOIN nr n ON n.vec_id = p.vec_id
      |       JOIN c2 c ON c.cid = p.cell
      |  WHERE p.crn <= $NProbe),
      |adcm AS (
      |  SELECT q.q_id, x.vec_id, x.m,
      |    ${sqDistSql(sub("q.qr", "x.m"), "b.sv")} AS d
      |  FROM qres q
      |       JOIN codes x ON x.cell = q.cell AND x.vec_id <> q.q_id
      |       JOIN pcb$PqIters b ON b.m = x.m AND b.code = x.code),
      |adcv AS (
      |  SELECT q_id, vec_id,
      |    list_reduce(list_prepend(0.0, list(d ORDER BY m)), (a, b) -> a + b) AS adc
      |  FROM adcm GROUP BY q_id, vec_id),
      |candq AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS arn
      |    FROM adcv) WHERE arn <= $PqCandK),
      |rer AS (
      |  SELECT c.q_id, c.vec_id,
      |    ${dotSql("nq.v", "nx.v")} / (nq.nrm * nx.nrm) AS score
      |  FROM candq c JOIN nr nq ON nq.vec_id = c.q_id
      |       JOIN nr nx ON nx.vec_id = c.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id, score,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      |  FROM rer)
      |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, score
      |FROM ranked WHERE rank <= $AnnK ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------- incremental ANN

  /** The at-rest IVF-PQ index: the `corpus_codes` parquet table (vec_id,
    * cell, c0..c{M-1} — fixed-width rows, M bytes of payload standing in
    * for the raw vector) plus its root. One row per vector, so the codes
    * table is its OWN membership manifest — the seen guard is an
    * anti-join on its pruned vec_id column, already O(|vectors|); a
    * separate `corpus_docs`-style manifest (the shingle tier's fix for
    * O(index rows) ≫ O(docs)) would save nothing here.
    */
  private[graft] case class AnnIndex(codes: DataFrame, root: String)

  /** Encode a vector frame against FROZEN fits: coarse cell by literal-
    * centroid argmin, then per-subspace PQ codes against the literal
    * codebooks — one scan-stage projection, no join, the exact encode
    * [[ivfPqWith]] performs inline. Shared by the index build and the
    * nightly append so appended codes are bit-identical to what a
    * from-scratch build over the widened corpus would produce (spec'd).
    */
  private[graft] def pqCodesOf(vframe: DataFrame, cents: IndexedSeq[Array[Double]],
                               cbs: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    // geometry rides in with the codebooks: M = cbs.length, dsub = entry
    // width — the default corpus fits instantiate PqM×PqSub, the
    // geometry spec any other tiling of the dimension
    val pqSub = cbs.head.head.length
    val centArr = typedLit(cents.map(_.toSeq))
    vframe
      .withColumn("cell", kmBest(col("v"), cents).getField("cid"))
      .withColumn("r", zip_with(col("v"),
        element_at(centArr, col("cell") + 1), (x, c) => x - c))
      .select(Seq(col("vec_id"), col("cell")) ++
        cbs.indices.map(m =>
          pqBest(slice(col("r"), m * pqSub + 1, pqSub), cbs(m))
            .getField("code").as(s"c$m")): _*)
  }

  /** Build-or-reopen the codes table of `dir`'s SEEN corpus
    * (`vec_id % 10 < 8`, encoded with the frozen corpus fits) at an
    * explicit root — the [[Dedup.corpusIndexAt]] discipline: one build
    * body shared by the fixture root and the
    * [[graft.streaming.StreamingAnn]] warehouse index. A codes table
    * already at rest is re-opened as it is, so an index under a durable
    * root survives a process restart.
    */
  private[graft] def annIndexAt(spark: SparkSession, dir: String, root: String): AnnIndex = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    if (!wh.exists("corpus_codes"))
      wh.write("corpus_codes", pqCodesOf(vecs(spark, dir).filter(col("vec_id") % 10 < 8),
        corpusKmeansCentroids(spark, dir), corpusPqCodebooks(spark, dir)))
    AnnIndex(wh.read("corpus_codes"), root)
  }

  /** The q89 fixture index, re-opened at its [[graft.FixtureRoots]] root. */
  private[graft] def annIndexAtRest(spark: SparkSession, dir: String): AnnIndex =
    annIndexAt(spark, dir, graft.FixtureRoots.root(spark, "annidx", dir)(annIndexAt(spark, dir, _)))

  /** Advance the at-rest index with a batch of new vectors — the FAISS
    * `add()` contract: encode against the FROZEN corpus fits (never
    * refit — refit is an index rebuild), guard with a vec_id anti-join
    * against the codes table (one row per vector: the table is its own
    * manifest, and `Warehouse.append` is per-job atomic, so there is no
    * data/manifest crash window in this tier), append. Idempotent under
    * at-least-once redelivery; spec'd in TrainingOpsSpec. Geometry rides
    * in with the codebooks, no memo interaction (the geometry spec
    * proves the contract at a non-default tiling).
    *
    * `batchVecs` is embeddings-shaped (`vec_id`, `embedding`).
    */
  private[graft] def appendAnnWith(idx: AnnIndex,
                                   cents: IndexedSeq[Array[Double]],
                                   cbs: IndexedSeq[IndexedSeq[Array[Double]]],
                                   batchVecs: DataFrame): AnnIndex = {
    val wh = new graft.pipelines.Warehouse(batchVecs.sparkSession, idx.root)
    // dropDuplicates BEFORE the anti-join: the at-rest guard only sees
    // rows already committed, so a source that redelivers a vec_id
    // WITHIN one batch would otherwise append it twice and break the
    // one-row-per-vector = own-manifest invariant.
    wh.appendNew("corpus_codes",
      pqCodesOf(vecsOf(batchVecs).dropDuplicates("vec_id"), cents, cbs), Seq("vec_id"))
    wh.compactIfFragmented("corpus_codes")
    AnnIndex(wh.read("corpus_codes"), idx.root)
  }

  /** RETRACTION for the embedding tier — the FAISS `remove_ids()`
    * contract beside [[appendAnnWith]]'s `add()`: drop the retracted
    * vec_ids' code rows ([[graft.pipelines.Warehouse.dropKeys]]). One row per vector
    * and the fits are FROZEN by the family contract (append encodes,
    * never refits), so survivors' codes are byte-identical to a
    * from-scratch build over the surviving corpus — retract ≡
    * rebuild-without-those-vectors EXACTLY, with zero re-encoding
    * (spec'd in RetractionSpec). Idempotent; a re-offered vector
    * counts as novel again (the codes table is its own manifest).
    */
  private[graft] def retractFromAnnIndexOf(idx: AnnIndex,
                                           vecIds: DataFrame): AnnIndex = {
    val wh = new graft.pipelines.Warehouse(vecIds.sparkSession, idx.root)
    wh.dropKeys(vecIds, "vec_id", "corpus_codes")
    AnnIndex(wh.read("corpus_codes"), idx.root)
  }

  /** q89 — delta ANN screen: the INCREMENTAL twin of q83, closing the
    * §2.9 loop for the embedding tier the way q74 closed the fuzzy tier
    * and q88 the deterministic one. A nightly batch of new vectors
    * (q61's `% 10 >= 8` convention) is screened for nearest corpus
    * neighbors against the at-rest `corpus_codes` table — the corpus's
    * raw vectors are NEVER rescanned for candidate generation, only the
    * M-byte codes rows are:
    *
    *  1. batch probes rank the frozen corpus cells (literal-centroid
    *     distances, scan-stage) and take [[NProbe]];
    *  2. ADC lookup tables per (probe, cell) against the frozen literal
    *     codebooks;
    *  3. the at-rest codes join the probes on cell (broadcast while the
    *     batch fits — the q83 plan — with NO forced hint, so AQE
    *     shuffles when a night's arrivals outgrow executor memory), sum
    *     M `element_at` lookups, and the [[PqCandK]] best candidates
    *     per query survive;
    *  4. exact cosine re-rank via query-bounded point lookups into the
    *     raw vector store, [[AnnK]] emitted.
    *
    * At 100 TB the nightly cost is |batch| × (probed-cell codes rows) of
    * fixed-width ADC work plus query-bounded exact re-ranks — independent
    * of corpus pair count, and 128× less IO than scanning raw vectors.
    * Every double is portable (the q83 argument verbatim), so the oracle
    * replicates the corpus-restricted fit + codes + search relationally
    * and hash-matches bit-for-bit.
    */
  def deltaAnn(spark: SparkSession, dir: String): DataFrame =
    screenAnnAgainstIndex(spark, dir,
      Tables.spread(Tables.embeddings(spark, dir))
        .filter(col("vec_id") % 10 >= 8))

  /** Normalize an embeddings-shaped frame to the (vec_id, v, nrm) search
    * shape — [[vecs]] for an arbitrary batch frame.
    */
  private[graft] def vecsOf(df: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    df.select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** The q89 screen with the batch as an argument — the nightly-loop
    * form (screen, then [[appendAnnWith]] advances the index). The
    * seen guard drops batch vectors the index already absorbed (replay
    * is a no-op; a vector must not match itself after its own append),
    * mirroring [[Dedup.screenAgainstIndex]]'s unseen discipline.
    */
  private[graft] def screenAnnAgainstIndex(spark: SparkSession, dir: String,
                                           batchVecs: DataFrame): DataFrame =
    screenAnnWith(spark, dir, annIndexAtRest(spark, dir),
      corpusKmeansCentroids(spark, dir), corpusPqCodebooks(spark, dir),
      batchVecs)

  /** The screen with the index and the frozen fits as arguments —
    * geometry rides in with the codebooks ([[appendAnnWith]]'s twin).
    * `spark`/`dir` locate the raw vector store for the exact re-rank.
    */
  private[graft] def screenAnnWith(spark: SparkSession, dir: String,
                                   idx: AnnIndex,
                                   cents: IndexedSeq[Array[Double]],
                                   cbs: IndexedSeq[IndexedSeq[Array[Double]]],
                                   batchVecs: DataFrame): DataFrame = {
    val pqSub = cbs.head.head.length
    val centArr = typedLit(cents.map(_.toSeq))
    // dropDuplicates: an in-batch vec_id redelivery would double every
    // probe row — duplicate candidates, corrupted rank sequences (the
    // append-side guard's twin)
    val unseen = vecsOf(batchVecs).dropDuplicates("vec_id")
      .join(idx.codes.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val cellRanks = array_sort(array(cents.zipWithIndex.map { case (cv, cid) =>
      struct(sqDist(col("v"), typedLit(cv.toSeq)).as("d"), lit(cid).as("cid"))
    }: _*))
    val probes = unseen
      .withColumn("pc", explode(slice(cellRanks, 1, NProbe)))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("pc.cid").as("cell"))
      .withColumn("qr", zip_with(col("qv"),
        element_at(centArr, col("cell") + 1), (x, c) => x - c))
      .select(Seq(col("q_id"), col("qv"), col("qn"), col("cell")) ++
        cbs.indices.map(m =>
          transform(typedLit(cbs(m).map(_.toSeq)),
            sv => sqDist(slice(col("qr"), m * pqSub + 1, pqSub), sv))
            .as(s"t$m")): _*)
    val adc = cbs.indices
      .map(m => element_at(col(s"t$m"), col(s"c$m") + 1))
      .reduce(_ + _) // left-assoc: same fold order as the oracle's list
    val wc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    // NO forced broadcast, unlike q83: there the probe side is a bounded
    // 1% sample; here it is the nightly batch, bounded operationally but
    // not structurally. Catalyst broadcasts it while it fits (the
    // fixture plan is identical to q83's) and AQE shuffles on cell when
    // a night's arrivals outgrow executor memory — the q87 cliff rule.
    val cand = idx.codes.join(probes, Seq("cell"))
      .withColumn("adc", adc)
      .withColumn("arn", row_number().over(wc))
      .filter(col("arn") <= PqCandK)
      .select(col("q_id"), col("qv"), col("qn"), col("vec_id"))
    // exact re-rank: query-bounded point lookups into the raw vector
    // store (ALL vectors — after appends the index legitimately holds
    // earlier batches, and their raw rows live in the same store)
    val wr = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    cand.join(vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm")),
        Seq("vec_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= AnnK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val deltaAnnSql: String = {
    def sub(l: String, m: String) = pqSubSql(l, m)
    s"""WITH ${kmeansCtesFor(" WHERE vec_id % 10 < 8")},
      |$pqChainCtes,
      |eb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id % 10 >= 8),
      |ebn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM eb),
      |sb AS (
      |  SELECT b.vec_id, b.v, c.cid, ${sqDistSql("b.v", "c.cv")} AS d
      |  FROM eb b CROSS JOIN c2 c),
      |pc AS (
      |  SELECT vec_id, cid AS cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crn
      |  FROM sb),
      |qres AS (
      |  SELECT p.vec_id AS q_id, p.cell,
      |    list_transform(range(1, len(n.v) + 1),
      |      i -> n.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS qr
      |  FROM pc p JOIN ebn n ON n.vec_id = p.vec_id
      |       JOIN c2 c ON c.cid = p.cell
      |  WHERE p.crn <= $NProbe),
      |adcm AS (
      |  SELECT q.q_id, x.vec_id, x.m,
      |    ${sqDistSql(sub("q.qr", "x.m"), "b.sv")} AS d
      |  FROM qres q
      |       JOIN codes x ON x.cell = q.cell
      |       JOIN pcb$PqIters b ON b.m = x.m AND b.code = x.code),
      |adcv AS (
      |  SELECT q_id, vec_id,
      |    list_reduce(list_prepend(0.0, list(d ORDER BY m)), (a, b) -> a + b) AS adc
      |  FROM adcm GROUP BY q_id, vec_id),
      |candq AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS arn
      |    FROM adcv) WHERE arn <= $PqCandK),
      |rer AS (
      |  SELECT c.q_id, c.vec_id,
      |    ${dotSql("nq.v", "nx.v")} / (nq.nrm * nx.nrm) AS score
      |  FROM candq c JOIN ebn nq ON nq.vec_id = c.q_id
      |       JOIN nr nx ON nx.vec_id = c.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id, score,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      |  FROM rer)
      |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, score
      |FROM ranked WHERE rank <= $AnnK ORDER BY q_id, rank""".stripMargin
  }
}
