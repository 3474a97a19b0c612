package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Specs for the training-data pipeline extensions (TextOps / Dedup /
  * Similarity / Multimodal / Dq) on the sf0.001 fixtures, plus invariant
  * checks that don't depend on fixture values.
  */
class TrainingOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Exact coarse-probe recall bound on the CURRENT fixtures: for each
    * query, exact cosine restricted to its NProbe nearest cells, scored
    * against the brute-force top-K. This is the geometry-INDEPENDENT
    * ceiling of any IVF pipeline over these cells — both the default
    * 4x16 and the 8x8 incremental specs require recall >= 0.8x of it,
    * so fixture regeneration moves the floor with the data instead of
    * tripping a hardcoded constant.
    */
  private def coarseProbeBound(cents: IndexedSeq[Array[Double]],
      corpus: Seq[(Long, Array[Double], Double)],
      queries: Seq[(Long, Array[Double], Double)],
      bfTop: Map[Long, Set[Long]]): Double = {
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cellOf = corpus.map { case (id, v, _) =>
      id -> cents.indices.minBy(i => (sq(v, cents(i)), i)) }.toMap
    var hits = 0; var total = 0
    queries.foreach { case (qid, qv, qn) =>
      val probed = cents.indices.sortBy(i => (sq(qv, cents(i)), i))
        .take(Similarity.NProbe).toSet
      val coarseTop = corpus.filter(x => probed(cellOf(x._1)))
        .sortBy { case (id, v, n) => (-dotA(qv, v) / (qn * n), id) }
        .take(Similarity.AnnK).map(_._1).toSet
      hits += (bfTop.getOrElse(qid, Set.empty) & coarseTop).size
      total += bfTop.getOrElse(qid, Set.empty).size
    }
    require(total > 0, "degenerate brute-force reference")
    hits.toDouble / total
  }

  // --- TextOps -------------------------------------------------------------

  test("token stats: counts are consistent and ttr in (0,1]") {
    val df = TextOps.tokenStats(spark, dir).cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_uniq") > col("n_tokens")).isEmpty)
    assert(df.filter(col("ttr") <= 0 || col("ttr") > 1).isEmpty)
    assert(df.filter(col("avg_token_len") <= 0).isEmpty)
  }

  test("lang profile: predicted is one of en/es/und") {
    val langs = TextOps.langProfile(spark, dir)
      .select("predicted").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "und")))
  }

  test("quality score is in [0,1] and bucket matches score") {
    val df = TextOps.qualityScore(spark, dir).cache()
    assert(df.filter(col("score") < 0 || col("score") > 1).isEmpty)
    assert(df.filter(col("bucket") === "high" && col("score") < 0.5).isEmpty)
    assert(df.filter(col("bucket") === "low" && col("score") >= 0.3).isEmpty)
  }

  test("fingerprint: md5 is 32 hex chars, h60 non-negative, shingles > 0") {
    val df = TextOps.fingerprint(spark, dir).cache()
    assert(df.filter(length(col("md5_hex")) =!= 32).isEmpty)
    assert(df.filter(col("h60") < 0).isEmpty)
    assert(df.filter(col("n_shingles") <= 0).isEmpty)
  }

  // --- Dedup ---------------------------------------------------------------

  test("exact dedup: canonical ids cover all groups, n_docs >= 1") {
    val docs = Tables.documents(spark, dir).count()
    val df = Dedup.exactDedup(spark, dir).cache()
    assert(df.agg(sum("n_docs")).first().getLong(0) == docs)
    assert(df.filter(col("n_docs") < 1).isEmpty)
  }

  test("exact dedup: case and whitespace variants collapse, unicode lowercases, empty texts group") {
    import spark.implicits._
    val docs = Seq(
      1L -> "Hello  World", 2L -> "hello world\n", 3L -> "HELLO WORLD again",
      4L -> "Straße ÜBER", 5L -> "straße über", 6L -> "", 7L -> " \t ",
      8L -> "日本語 テキスト", 9L -> "日本語  テキスト").toDF("doc_id", "text")
    val got = Dedup.exactDedupOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L, 4L -> 2L, 6L -> 2L, 8L -> 2L))
  }

  test("ngram jaccard: pairs are ordered, jaccard in [threshold, 1]") {
    val df = Dedup.ngramJaccard(spark, dir).cache()
    assert(df.filter(col("da") >= col("db")).isEmpty)
    assert(df.filter(col("jaccard") < Dedup.JaccardThreshold || col("jaccard") > 1).isEmpty)
  }

  test("minhash LSH candidates verify to a subset of exact jaccard pairs") {
    val exact = Dedup.ngramJaccard(spark, dir)
      .select("da", "db", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH found pairs not in exact: ${lsh -- exact}")
    // LSH with 4x4 bands should catch every very-high-jaccard pair
    val high = Dedup.ngramJaccard(spark, dir).filter(col("jaccard") >= 0.9)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(high.subsetOf(lsh), s"LSH missed near-identical pairs: ${high -- lsh}")
  }

  test("cms heavy hitters: est never underestimates, every truly-hot token surfaces") {
    // plan shape FIRST (before .cache() makes later identical plans
    // resolve to an InMemoryRelation): the est >= T cut references only
    // the grouping column h, so Catalyst must push it BELOW the
    // per-token aggregate — the scan-stage candidate claim. If a future
    // edit breaks the pushdown the rows stay identical (oracle stays
    // green) while the plan silently degrades; pin it here.
    locally {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
      val plan = Sketch.cmsHeavyHitters(spark, dir).queryExecution.optimizedPlan
      val pushed = plan.collect { case a: Aggregate =>
        a.find {
          case f: Filter => f.condition.toString.contains(Sketch.CmsHotT.toString)
          case _ => false
        }.isDefined
      }
      assert(pushed.contains(true),
        s"est >= ${Sketch.CmsHotT} filter must sit below the aggregate:\n$plan")
      TransientCache.drain()
    }
    val df = Sketch.cmsHeavyHitters(spark, dir).cache()
    assert(df.count() > 0)
    assert(df.filter(col("est") < col("exact")).isEmpty,
      "CMS must never underestimate")
    // completeness: every token whose EXACT count clears the cut appears
    // (est >= exact >= T), so the sketch-candidate stage misses nothing
    val exact = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFns.toks(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .filter(col("c") >= Sketch.CmsHotT)
    assert(exact.join(df, Seq("token"), "left_anti").isEmpty,
      "a truly-hot token escaped the candidate set")
  }

  test("minhash estimate: full-band floor, q22 pairs are a candidate subset, exact binary fractions") {
    val df = Dedup.minhashEstimate(spark, dir).cache()
    assert(df.count() > 0)
    // banding guarantee: a candidate shares >= one full band of components
    assert(df.filter(col("n_match") < Dedup.Rows).isEmpty)
    assert(df.filter(col("est") < 0 || col("est") > 1).isEmpty)
    assert(df.filter(col("est") * 16 =!= col("n_match")).isEmpty) // exact /16
    // every q22-verified pair was a banding candidate, so it appears here
    val verified = Dedup.minhashLsh(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = df.select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cands), s"missing: ${verified -- cands}")
  }

  test("simhash: 32-bit signatures; identical docs would collide") {
    val df = Dedup.simhash(spark, dir).cache()
    assert(df.filter(col("simhash") < 0 || col("simhash") > ((1L << 32) - 1)).isEmpty)
    assert(df.count() == Tables.documents(spark, dir).count())
  }

  test("simhash pairs: hamming <= 3 and banding recall is exact at <= 3") {
    val df = Dedup.simhashPairs(spark, dir).cache()
    assert(df.filter(col("hamming") > 3 || col("hamming") < 0).isEmpty)
  }

  // --- Similarity ----------------------------------------------------------

  test("cosine topk: k results per query, scores descending within query") {
    val df = Similarity.cosineTopK(spark, dir).cache()
    val perQ = df.groupBy("q_id").count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == Similarity.TopK))
    val bad = df.as("x").join(df.as("y"),
      col("x.q_id") === col("y.q_id") && (col("x.rank") + 1 === col("y.rank")) &&
        col("x.score") < col("y.score"))
    assert(bad.isEmpty, "scores must be non-increasing in rank")
  }

  test("ann lsh results are a subset of each query's bucket, scored correctly") {
    val ann = Similarity.annLsh(spark, dir).cache()
    assert(ann.filter(col("rank") > Similarity.AnnK).isEmpty)
    // every (q, vec) ANN hit must appear in brute-force scoring with same score
    val bf = Similarity.cosineTopK(spark, dir)
      .select(col("q_id"), col("vec_id"), col("score"))
    val joined = ann.join(bf, Seq("q_id", "vec_id"), "inner")
    joined.collect().foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-9)
    }
  }

  test("ivf ann: scores agree with brute force; results come from probed cells") {
    val ivf = Similarity.ivfAnn(spark, dir).cache()
    assert(ivf.filter(col("rank") > Similarity.AnnK).isEmpty)
    assert(ivf.count() > 0)
    val bf = Similarity.cosineTopK(spark, dir)
      .select(col("q_id"), col("vec_id"), col("score"))
    ivf.join(bf, Seq("q_id", "vec_id"), "inner").collect().foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-9)
    }
  }

  test("ivf over k-means cells: brute-force-consistent scores, q71 cells, shared fit") {
    Similarity.clearKmeansMemo(spark)
    Similarity.kmeansAssign(spark, dir).collect()
    val fits = Similarity.kmFitCount.get()
    val ivf = Similarity.ivfKmeans(spark, dir).cache()
    assert(Similarity.kmFitCount.get() == fits, "q81 must reuse the memoized fit")
    assert(ivf.count() > 0)
    assert(ivf.filter(col("rank") > Similarity.AnnK).isEmpty)
    // every hit scores identically to the brute-force pass
    val bf = Similarity.cosineTopK(spark, dir)
      .select(col("q_id"), col("vec_id"), col("score"))
    ivf.join(bf, Seq("q_id", "vec_id"), "inner").collect().foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-9)
    }
    // every hit lives in one of its query's NProbe nearest cells ==
    // a q71 cluster (cells ARE the kmeans assignment)
    val cells = Similarity.kmeansAssign(spark, dir)
    val hitCells = ivf.join(cells, Seq("vec_id")).select("q_id", "cluster").distinct()
    assert(hitCells.groupBy("q_id").count()
      .filter(col("count") > Similarity.NProbe).isEmpty,
      "hits must come from at most NProbe cells per query")
  }

  test("ivf-pq: exact re-rank scores, probed-cell confinement, recall floor, one PQ training") {
    Similarity.clearKmeansMemo(spark)
    Similarity.kmeansAssign(spark, dir).collect() // pay the coarse fit once
    val fits = Similarity.kmFitCount.get()
    val pqFits = Similarity.pqFitCount.get()
    val pq = Similarity.ivfPq(spark, dir).cache()
    assert(pq.count() > 0)
    assert(Similarity.kmFitCount.get() == fits,
      "PQ training must reuse the memoized coarse fit, never refit")
    assert(Similarity.pqFitCount.get() == pqFits + 1)
    Similarity.ivfPq(spark, dir).collect()
    assert(Similarity.pqFitCount.get() == pqFits + 1,
      "codebooks must be memoized across calls")
    assert(pq.filter(col("rank") > Similarity.AnnK).isEmpty)
    // the re-rank is true-vector cosine, so any hit shared with the
    // global brute force carries the IDENTICAL score (ADC only selects
    // candidates; it never contributes to an emitted number)
    val bf = Similarity.cosineTopK(spark, dir)
      .filter(col("rank") <= Similarity.AnnK)
      .select(col("q_id"), col("vec_id"), col("score").as("bscore")).cache()
    val shared = pq.join(bf, Seq("q_id", "vec_id")).cache()
    shared.collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("score")) ==
        r.getDouble(r.fieldIndex("bscore")), "re-rank must be exact")
    }
    // recall@K vs the global brute force: bounded by the coarse probe
    // (q81 measures 0.6 on this fixture); deterministic — a drop means
    // the coarse layer, the codebooks or the candidate cut regressed
    val recall = shared.count().toDouble / bf.count()
    assert(recall >= 0.5, s"recall@${Similarity.AnnK} fell to $recall")
    // the ADC cut must lose no TRUE neighbor the coarse layer admits:
    // q83's brute-force hits equal q81's (the full-cell exact scan).
    // q83 may swap non-neighbor tail ranks — that IS the PQ trade; the
    // true top-k surviving the cut is what "sketch-then-verify changed
    // selection cost, not quality" means
    val q81hits = Similarity.ivfKmeans(spark, dir)
      .join(bf, Seq("q_id", "vec_id"))
      .select(col("q_id"), col("vec_id"))
      .collect().map(_.mkString("|")).toSet
    assert(shared.select(col("q_id"), col("vec_id"))
      .collect().map(_.mkString("|")).toSet == q81hits,
      "ADC candidate cut lost a true neighbor the coarse layer admitted")
    // hits confined to at most NProbe cells per query (cells ARE q71)
    val cells = Similarity.kmeansAssign(spark, dir)
    val hitCells = pq.join(cells, Seq("vec_id")).select("q_id", "cluster").distinct()
    assert(hitCells.groupBy("q_id").count()
      .filter(col("count") > Similarity.NProbe).isEmpty)
  }

  test("embed near-dup: pairs share label and meet threshold") {
    val df = Similarity.embedNearDup(spark, dir).cache()
    assert(df.filter(col("score") < Similarity.NearDupThreshold).isEmpty)
    assert(df.filter(col("va") >= col("vb")).isEmpty)
  }

  test("ivf-pq at the M=8x8 geometry: same recall floor, nothing shape-bound") {
    // the codebook machinery is parametric in (M, dsub); train and
    // search the 64-dim fixture as 8 subspaces of 8 dims (vs the
    // default 4x16) and hold the SAME contracts: exact re-rank scores,
    // the recall floor, and the ADC cut losing no true neighbor the
    // coarse layer admits
    val cbs8 = Similarity.fitPqGeometry(spark, dir, 8, 8)
    assert(cbs8.size == 8 && cbs8.forall(_.forall(_.length == 8)))
    val pq8 = Similarity.ivfPqWith(spark, dir, cbs8, 8, 8).cache()
    assert(pq8.count() > 0)
    val bf = Similarity.cosineTopK(spark, dir)
      .filter(col("rank") <= Similarity.AnnK)
      .select(col("q_id"), col("vec_id"), col("score").as("bscore")).cache()
    val shared = pq8.join(bf, Seq("q_id", "vec_id")).cache()
    shared.collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("score")) ==
        r.getDouble(r.fieldIndex("bscore")), "re-rank must stay exact")
    }
    val recall = shared.count().toDouble / bf.count()
    assert(recall >= 0.5, s"M=8x8 recall@${Similarity.AnnK} fell to $recall")
    // same no-lost-true-neighbor contract as the default geometry: the
    // hits equal q81's full-cell exact scan restricted to brute force
    val q81hits = Similarity.ivfKmeans(spark, dir)
      .join(bf, Seq("q_id", "vec_id"))
      .select(col("q_id"), col("vec_id"))
      .collect().map(_.mkString("|")).toSet
    assert(shared.select(col("q_id"), col("vec_id"))
      .collect().map(_.mkString("|")).toSet == q81hits,
      "M=8x8 ADC cut lost a true neighbor the coarse layer admitted")
    // a wrong geometry cannot slip through: the tiling is checked
    intercept[IllegalArgumentException] {
      Similarity.fitPqGeometry(spark, dir, 8, 16)
    }
    Seq(pq8, bf, shared).foreach(_.unpersist(false))
  }

  test("kmeans: full assignment, clusters in range, seeds anchor their own clusters, deterministic") {
    val a = Similarity.kmeansAssign(spark, dir).cache()
    assert(a.count() == 500)
    assert(a.filter(col("cluster") < 0 || col("cluster") >= Similarity.KmK).isEmpty)
    // Lloyd from data-point seeds cannot strand all mass: every cluster
    // id appears (k=8 over 500 spread vectors; empty clusters would keep
    // their previous centroid and re-capture their seed's neighborhood)
    assert(a.select(col("cluster")).distinct().count() == Similarity.KmK)
    // two independent plan evaluations agree bit-for-bit (ordered folds:
    // no partial-agg order dependence anywhere in the loop)
    val b = Similarity.kmeansAssign(spark, dir)
    assert(a.join(b.withColumnRenamed("cluster", "c2"), Seq("vec_id"))
      .filter(col("cluster") =!= col("c2")).isEmpty)
  }

  test("kmeans fit is memoized across q71/q73 and rebuilds equal after clear") {
    Similarity.clearKmeansMemo(spark)
    val base = Similarity.kmFitCount.get()
    val a1 = Similarity.kmeansAssign(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    Similarity.semDedup(spark, dir).collect()
    assert(Similarity.kmFitCount.get() == base + 1,
      "q71 and q73 must share ONE Lloyd fit per (session, dir)")
    Similarity.clearKmeansMemo(spark)
    val a2 = Similarity.kmeansAssign(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(Similarity.kmFitCount.get() == base + 2, "clear must force a refit")
    assert(a1 == a2, "independent fits agree bit-for-bit (ordered folds)")
  }

  // driver-side references for the fits: the engine folds every double
  // in a fixed order, so each fit must equal its reference bit-for-bit

  /** (vec_id, label, embedding widened to double), sorted by vec_id. */
  private lazy val fixtureVecs: Seq[(Long, Int, Array[Double])] =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .toSeq.sortBy(_._1)

  /** Squared L2 as a left fold from 0.0 (the engine's `sqDist`). */
  private def refSqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += (a(i) - b(i)) * (a(i) - b(i)); i += 1 }
    s
  }

  /** Nearest entry, distance ties toward the smaller index. */
  private def refArgmin(v: Array[Double], cents: IndexedSeq[Array[Double]]): Int =
    cents.indices.minBy(i => (refSqDist(v, cents(i)), i))

  /** Per-dimension mean of vec_id-ordered members: left fold / count. */
  private def refMean(members: Seq[(Long, Array[Double])]): Array[Double] = {
    val ms = members.sortBy(_._1)
    Array.tabulate(ms.head._2.length)(p =>
      ms.foldLeft(0.0)((acc, m) => acc + m._2(p)) / ms.size)
  }

  /** Lloyd from the `k` smallest vec_ids; empty clusters keep their
    * previous centroid.
    */
  private def refLloyd(vecs: Seq[(Long, Array[Double])], k: Int, iters: Int)
      : IndexedSeq[Array[Double]] = {
    val sorted = vecs.sortBy(_._1)
    var cents = sorted.take(k).map(_._2).toIndexedSeq
    for (_ <- 1 to iters) {
      val byC = sorted.groupBy { case (_, v) => refArgmin(v, cents) }
      cents = cents.indices.map(c => byC.get(c).map(refMean).getOrElse(cents(c)))
    }
    cents
  }

  /** Per-subspace Lloyd over the residuals against `cents`, seeded by the
    * residuals of the `PqKs` smallest vec_ids.
    */
  private def refPq(vecs: Seq[(Long, Array[Double])], cents: IndexedSeq[Array[Double]],
                    pqM: Int, pqSub: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val res = vecs.sortBy(_._1).map { case (id, v) =>
      val c = cents(refArgmin(v, cents))
      id -> Array.tabulate(v.length)(i => v(i) - c(i))
    }
    def sub(r: Array[Double], m: Int) = r.slice(m * pqSub, (m + 1) * pqSub)
    var cbs = (0 until pqM).map(m =>
      res.take(Similarity.PqKs).map(x => sub(x._2, m)).toIndexedSeq)
    for (_ <- 1 to Similarity.PqIters) {
      cbs = (0 until pqM).map { m =>
        val byC = res.map { case (id, r) => id -> sub(r, m) }
          .groupBy { case (_, s) => refArgmin(s, cbs(m)) }
        cbs(m).indices.map(c => byC.get(c).map(refMean).getOrElse(cbs(m)(c)))
      }
    }
    cbs
  }

  private def sameFit(got: IndexedSeq[Array[Double]], want: IndexedSeq[Array[Double]]): Boolean =
    got.map(_.toSeq) == want.map(_.toSeq)

  test("label centroids equal a driver-side vec_id-ordered mean bit-for-bit") {
    val got = Similarity.labelCentroids(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    val want = fixtureVecs.groupBy(_._2).toSeq.flatMap { case (label, rows) =>
      val mean = refMean(rows.map(x => x._1 -> x._3))
      mean.indices.map(p => (label, p + 1) -> (rows.size, mean(p)))
    }.toMap
    assert(got.size == want.size && got.nonEmpty)
    assert(got == want)
  }

  test("k-means fit equals a driver-side Lloyd iteration bit-for-bit") {
    val got = Similarity.kmeansCentroids(spark, dir)
    val want = refLloyd(fixtureVecs.map(x => x._1 -> x._3), Similarity.KmK, Similarity.KmIters)
    assert(got.size == Similarity.KmK)
    assert(sameFit(got, want))
  }

  test("k-means assignment is the driver-side argmin over the fitted centroids") {
    val cents = Similarity.kmeansCentroids(spark, dir)
    val got = Similarity.kmeansAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == fixtureVecs.map(x => x._1 -> refArgmin(x._3, cents)).toMap)
  }

  test("the frozen corpus-side k-means fit sees only vec_id % 10 < 8 and equals its driver-side Lloyd") {
    val corpus = fixtureVecs.filter(_._1 % 10 < 8).map(x => x._1 -> x._3)
    val got = Similarity.corpusKmeansCentroids(spark, dir)
    assert(sameFit(got, refLloyd(corpus, Similarity.KmK, Similarity.KmIters)))
    // non-vacuous: the batch side moves the fit
    assert(!sameFit(got, Similarity.kmeansCentroids(spark, dir)))
  }

  test("PQ codebooks equal a driver-side residual Lloyd bit-for-bit") {
    val vecs = fixtureVecs.map(x => x._1 -> x._3)
    val got = Similarity.pqCodebooks(spark, dir)
    val want = refPq(vecs, Similarity.kmeansCentroids(spark, dir), Similarity.PqM, Similarity.PqSub)
    assert(got.size == Similarity.PqM)
    got.indices.foreach(m => assert(sameFit(got(m), want(m)), s"subspace $m"))
  }

  test("the frozen corpus-side PQ codebooks equal their driver-side residual Lloyd") {
    val corpus = fixtureVecs.filter(_._1 % 10 < 8).map(x => x._1 -> x._3)
    val got = Similarity.corpusPqCodebooks(spark, dir)
    val want = refPq(corpus, Similarity.corpusKmeansCentroids(spark, dir),
      Similarity.PqM, Similarity.PqSub)
    got.indices.foreach(m => assert(sameFit(got(m), want(m)), s"subspace $m"))
  }

  test("PQ training at the M=8x8 geometry equals the driver-side residual Lloyd") {
    val vecs = fixtureVecs.map(x => x._1 -> x._3)
    val got = Similarity.fitPqGeometry(spark, dir, 8, 8)
    val want = refPq(vecs, Similarity.kmeansCentroids(spark, dir), 8, 8)
    assert(got.size == 8 && got.forall(_.forall(_.length == 8)))
    got.indices.foreach(m => assert(sameFit(got(m), want(m)), s"subspace $m"))
  }

  test("q73 SemDeDup pruning is cluster-local: witness in SAME cluster, no cross-cluster scoring") {
    val out = Similarity.semDedup(spark, dir).cache() // (vec_id, cluster, pruned)
    // no all-pairs path in the operator itself: the only joins are the
    // cluster equi-join and the final pruned-flag lookup
    assert(!out.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // reference semantics from an explicit corpus-wide pair scan (the
    // spec, not the operator, pays all-pairs — fixture-sized)
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sims = v.select(col("vec_id").as("va"), col("v").as("xa"))
      .crossJoin(v.select(col("vec_id").as("vb"), col("v").as("xb")))
      .filter(col("vb") < col("va"))
      .withColumn("score",
        org.apache.spark.sql.graft.VectorExprs.cosineSim(col("xa"), col("xb")))
      .filter(col("score") >= Similarity.SemDedupThreshold)
      .select(col("va"), col("vb"))
    val cl = out.select(col("vec_id"), col("cluster"))
    val pairs = sims
      .join(cl.select(col("vec_id").as("va"), col("cluster").as("ca")), Seq("va"))
      .join(cl.select(col("vec_id").as("vb"), col("cluster").as("cb")), Seq("vb"))
      .cache()
    // pruned <=> a >=threshold witness with smaller id in the SAME cluster
    val expectPruned = pairs.filter(col("ca") === col("cb"))
      .select(col("va").as("vec_id")).distinct()
      .withColumn("expect", lit(true))
    val j = out.join(expectPruned, Seq("vec_id"), "left")
      .withColumn("expect", coalesce(col("expect"), lit(false)))
    assert(j.filter(col("pruned") =!= col("expect")).isEmpty,
      "pruned set must be exactly the docs with a same-cluster witness")
    // non-vacuous: cross-cluster near-dups exist and SURVIVE when they
    // have no same-cluster witness — cluster-locality is observable
    val crossOnly = pairs.groupBy(col("va"))
      .agg(max(when(col("ca") === col("cb"), 1).otherwise(0)).as("has_same"))
      .filter(col("has_same") === 0)
    assert(crossOnly.count() > 0, "fixture must have cross-cluster-only near-dups")
    assert(out.join(crossOnly.select(col("va").as("vec_id")), Seq("vec_id"))
      .filter(col("pruned")).isEmpty,
      "cross-cluster-only near-dups must survive (never scored)")
  }

  test("q73 mega-cluster cap: default output unchanged, forced cap refines the join key") {
    // 1. at the default ceiling the guard is dormant: byte-identical to
    //    an explicitly uncapped run (the oracle's view)
    val dflt = Similarity.semDedup(spark, dir)
      .collect().map(_.mkString("|")).toSeq
    val uncapped = Similarity.semDedupCapped(spark, dir, Int.MaxValue)
      .collect().map(_.mkString("|")).toSeq
    assert(dflt == uncapped)
    // 2. force the guard (every fixture cluster is a "mega" cluster):
    //    the join key must be refined — the pair join carries the
    //    sub-block key next to the cluster key in its equi-condition
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val capped = Similarity.semDedupCapped(spark, dir, 10)
    val joins = capped.queryExecution.optimizedPlan.collect {
      case jn: Join => jn.condition.map(_.toString).getOrElse("")
    }
    assert(joins.exists(c => c.contains("cluster") && c.contains("blk")),
      s"forced cap must join on (cluster, blk); join conditions were:\n${joins.mkString("\n")}")
    assert(!capped.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // 3. capping only ever LOSES pruning witnesses (sub-blocks split
    //    pairs apart): the capped pruned set is a subset of the uncapped
    //    one, and vec_id/cluster columns are untouched
    val c = capped.collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val u = Similarity.semDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(c.map(t => (t._1, t._2)).toSeq == u.map(t => (t._1, t._2)).toSeq)
    val cPruned = c.filter(_._3).map(_._1).toSet
    val uPruned = u.filter(_._3).map(_._1).toSet
    assert(cPruned.subsetOf(uPruned),
      "a capped run must never prune a vector the uncapped run keeps")
  }

  test("prototype prune: exact per-cluster keep fraction, kept are the closest, shares the fit") {
    Similarity.clearKmeansMemo(spark)
    Similarity.kmeansAssign(spark, dir).collect()
    val fits = Similarity.kmFitCount.get()
    val df = Similarity.prototypePrune(spark, dir).cache()
    assert(Similarity.kmFitCount.get() == fits, "q79 must reuse the memoized fit")
    assert(df.count() == 500)
    // clusters agree with q71's assignment (same centroids, same argmin)
    val a = Similarity.kmeansAssign(spark, dir)
      .withColumnRenamed("cluster", "c71")
    assert(df.join(a, Seq("vec_id")).filter(col("cluster") =!= col("c71")).isEmpty)
    // keep bound: exactly floor((4n+4)/5) per cluster, and kept ranks are
    // a prefix of the distance order (rank is the order: prefix <=> bound)
    val per = df.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(when(col("kept"), 1).otherwise(0)).as("k"),
        max(when(col("kept"), col("rank"))).as("max_kept"),
        min(when(!col("kept"), col("rank"))).as("min_drop"))
    assert(per.filter(col("k") =!= floor(
      (col("n") * Similarity.KeepNum + (Similarity.KeepDen - 1)) / Similarity.KeepDen)).isEmpty)
    assert(per.filter(col("min_drop").isNotNull &&
      col("max_kept") >= col("min_drop")).isEmpty)
    // non-vacuous: something is actually dropped at this fixture
    assert(df.filter(!col("kept")).count() > 0)
  }

  test("fuzzy contamination: one best benchmark match per train doc, strictly cross-corpus") {
    val df = Contamination.fuzzyContamination(spark, dir).cache()
    assert(df.count() > 0, "fixture must contain cross-corpus near-dups")
    assert(df.filter(col("jaccard") < Dedup.JaccardThreshold).isEmpty)
    assert(df.groupBy(col("doc_id")).count().filter(col("count") > 1).isEmpty,
      "argmax must emit exactly one row per contaminated doc")
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    assert(df.join(src, Seq("doc_id"))
      .filter(col("source") === "src0").isEmpty, "train side must exclude the benchmark")
    assert(df.join(src.withColumnRenamed("doc_id", "bench_id"), Seq("bench_id"))
      .filter(col("source") =!= "src0").isEmpty, "matches must point into the benchmark")
    // fuzzy subsumes exact overlap at the pair level: every q33-flagged
    // doc whose overlap is near-duplicate-grade shows up here too when
    // its jaccard clears the threshold — spot-check mutual consistency
    val exact = Contamination.contamination(spark, dir)
      .filter(col("flagged")).select(col("doc_id"))
    assert(exact.join(df, Seq("doc_id"), "left_semi").count() > 0)
  }

  // --- Multimodal ----------------------------------------------------------

  test("media features: stub decode matches SQL-derivable facts") {
    val feats = Multimodal.mediaFeatures(spark, dir).cache()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_sql"),
        ascii(substring(col("text"), 1, 1)).as("head_sql"),
        // the stub decoder's checksum is md5-based by contract, so the
        // cross-check uses the md5 tier explicitly (not the mode default)
        graft.functions.TextFns.hash60Md5(col("text")).as("h60"))
    val j = feats.join(docs, Seq("doc_id"))
    assert(j.filter(col("n_bytes") =!= col("n_chars_sql")).isEmpty, "ascii corpus: bytes == chars")
    assert(j.filter(col("head_byte") =!= col("head_sql")).isEmpty)
    assert(j.filter(col("checksum") =!= col("h60")).isEmpty, "JVM md5 == SQL md5")
  }

  test("media decode is batched per partition and preserves rows") {
    val media = Multimodal.mediaTable(spark, dir).repartition(4)
    val out = Multimodal.decodeFeatures(media, Multimodal.MediaDecoder.Stub)
    assert(out.count() == Tables.documents(spark, dir).count())
  }

  test("delta dedup == exact jaccard pairs restricted to the delta split") {
    // the one-sided corpus probe must find exactly the q21 pairs that
    // cross the incoming/corpus boundary — same math, different shape
    val delta = Dedup.deltaDedup(spark, dir)
      .select(col("di"), col("dc"), col("jaccard"))
      .collect().map(_.mkString("|")).toSet
    val exact = Dedup.ngramJaccard(spark, dir)
      .filter((col("da") % 10 >= 8 && col("db") % 10 < 8) ||
        (col("db") % 10 >= 8 && col("da") % 10 < 8))
      .select(
        when(col("da") % 10 >= 8, col("da")).otherwise(col("db")).as("di"),
        when(col("da") % 10 >= 8, col("db")).otherwise(col("da")).as("dc"),
        col("jaccard"))
      .collect().map(_.mkString("|")).toSet
    assert(delta == exact)
  }

  test("q84 bloom tier: output identical to q61, filter provably thins the probe stream") {
    Dedup.clearCorpusBloom(spark)
    // no false negatives ==> byte-identical output (the oracle pairing's
    // premise, asserted here Spark-vs-Spark as well)
    val plain = Dedup.deltaDedup(spark, dir)
      .collect().map(_.mkString("|")).toSeq
    val bloomed = Dedup.deltaDedupBloomed(spark, dir)
      .collect().map(_.mkString("|")).toSeq
    assert(bloomed == plain)
    // the filter does real work: some batch shingles are definitely
    // absent from the corpus and never reach the join shuffle
    val bits = Dedup.corpusBloom(spark, dir)
    assert(bits.length == Dedup.BloomMBits / 64, "bounded driver state")
    val inc = Dedup.shingleRowsOf(
      Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8))
    val nAll = inc.count()
    val nKept = inc.filter(Dedup.bloomContains(col("sh_h"), bits)).count()
    assert(nKept < nAll, "the bloom filter must drop some absent shingles")
    // the Column probe and the Aggregator's own contains() agree on
    // every batch shingle (same hash family, same word layout)
    val colKept = inc.filter(Dedup.bloomContains(col("sh_h"), bits))
      .select(col("sh_h")).collect().map(_.getLong(0)).toSet
    val refKept = inc.select(col("sh_h")).collect().map(_.getLong(0))
      .filter(graft.functions.BloomSketch.contains(bits, _, Dedup.BloomK)).toSet
    assert(colKept == refKept)
    graft.TransientCache.drain()
  }

  test("q74 delta minhash == q22 LSH pairs restricted to batch x corpus") {
    // the incremental path (persisted corpus index + batch-only
    // signatures) must lose nothing against the full-corpus recompute:
    // same pair set, same jaccard values, for exactly the pairs that
    // cross the batch/corpus boundary
    val delta = Dedup.deltaMinhash(spark, dir)
      .collect().map(_.mkString("|")).toSet
    val full = Dedup.minhashLsh(spark, dir)
      .filter((col("da") % 10 >= 8 && col("db") % 10 < 8) ||
        (col("db") % 10 >= 8 && col("da") % 10 < 8))
      .select(
        when(col("da") % 10 >= 8, col("da")).otherwise(col("db")).as("di"),
        when(col("da") % 10 >= 8, col("db")).otherwise(col("da")).as("dc"),
        col("jaccard"))
      .collect().map(_.mkString("|")).toSet
    assert(delta == full)
    assert(delta.nonEmpty, "fixture must contain cross-boundary near-dups")
  }

  test("nightly loop: screen -> append -> screen == rebuild at each step; append idempotent") {
    // an index of its own, built from the base corpus (% 10 < 8)
    val root = java.nio.file.Files.createTempDirectory("graft-nightly-idx").toString
    def current() = Dedup.corpusIndexAt(spark, root, Dedup.seenCorpus(spark, dir))
    val docs = Tables.documents(spark, dir)
    val night1 = docs.filter(col("doc_id") % 10 === 8)
    val night2 = docs.filter(col("doc_id") % 10 === 9)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // from-scratch reference: q22 over the WHOLE corpus, restricted per
    // night to batch x corpus-so-far (night2's corpus includes night1)
    val all = Dedup.minhashLsh(spark, dir).cache()
    TransientCache.drain()
    def expected(batchMod: Int, corpusMax: Int): Set[String] = asSet(
      all.filter((col("da") % 10 === batchMod && col("db") % 10 < corpusMax) ||
          (col("db") % 10 === batchMod && col("da") % 10 < corpusMax))
        .select(
          when(col("da") % 10 === batchMod, col("da")).otherwise(col("db")).as("di"),
          when(col("da") % 10 === batchMod, col("db")).otherwise(col("da")).as("dc"),
          col("jaccard")))
    // night 1: screen against the base index, then advance it
    val s1 = asSet(Dedup.screenAgainstIndexOf(current(), night1))
    TransientCache.drain()
    assert(s1 == expected(8, 8))
    val widened = Dedup.appendToCorpusIndexOf(current(), night1)
    // the append must land in BOTH tables — the fixture has no
    // night2 x night1 near-dups, so the screen equality below cannot
    // catch a silently-empty append on its own
    val n1docs = night1
      .filter(size(graft.functions.TextFns.toks(col("text"))) >= 3).count()
    assert(widened.bands.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id")).distinct().count() == n1docs)
    assert(widened.shingles.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id")).distinct().count() == n1docs)
    // ... and the manifest advanced with them (appended LAST, so its
    // rows certify fully-committed docs)
    assert(widened.docs.filter(col("doc_id") % 10 === 8).count() == n1docs)
    // night 2 sees the widened corpus: base + night1
    val s2 = asSet(Dedup.screenAgainstIndexOf(current(), night2))
    TransientCache.drain()
    assert(s2 == expected(9, 9))
    // q74's differential already guarantees cross-boundary near-dups
    // exist; they all land in one of the two nights
    assert((s1 ++ s2).nonEmpty, "fixture must contain nightly near-dups")
    // idempotence: re-appending night1 changes NOTHING — not the index
    // row multisets, not the next screen (at-least-once => exactly-once)
    val idx = current()
    val (bands0, sh0) = (asSet(idx.bands), asSet(idx.shingles))
    assert(idx.bands.count() == bands0.size &&
      idx.shingles.count() == sh0.size, "index rows must be key-unique")
    val again = Dedup.appendToCorpusIndexOf(current(), night1)
    assert(asSet(again.bands) == bands0 && asSet(again.shingles) == sh0)
    assert(again.bands.count() == bands0.size &&
      again.shingles.count() == sh0.size)
    assert(asSet(Dedup.screenAgainstIndexOf(current(), night2)) == s2)
    TransientCache.drain()
    all.unpersist(false)
  }

  test("q74 corpus side is the at-rest index: bare scan, and injection drives output") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join}
    FixtureRoots.clear(spark)
    val real = Dedup.deltaMinhash(spark, dir).collect().toSeq
    TransientCache.drain()
    // 1. the index frames are plain file scans — no tokenize/shingle/
    //    minhash stage can touch the corpus through them
    val idx = Dedup.corpusIndex(spark, dir)
    // corpus_docs included: the seen-doc manifest must answer "which
    // docs exist" as a bare scan, never an aggregate over the data
    // tables (the r8 seen-set finding)
    Seq(idx.bands, idx.shingles, idx.docs).foreach { t =>
      val plan = t.queryExecution.optimizedPlan
      assert(plan.collectLeaves().size == 1)
      assert(plan.collect { case n @ (_: Aggregate | _: Generate | _: Join) => n }.isEmpty,
        s"index frame must be a bare scan, got:\n$plan")
      assert(t.queryExecution.executedPlan.toString.contains(idx.root),
        "index frame must scan the at-rest warehouse files")
    }
    assert(idx.docs.queryExecution.executedPlan.toString.contains("corpus_docs"),
      "the manifest frame must scan the corpus_docs table")
    // 2. poisoned index ==> empty output: the operator demonstrably READS
    //    the at-rest tables under its fixture root instead of
    //    re-signaturing the corpus itself
    val wh = new graft.pipelines.Warehouse(spark, idx.root)
    Seq("corpus_band_index", "corpus_shingles").foreach(t => wh.write(t, wh.read(t).limit(0)))
    assert(Dedup.deltaMinhash(spark, dir).isEmpty)
    TransientCache.drain()
    // 3. a rebuild after clearing restores the real answer
    FixtureRoots.clear(spark)
    assert(Dedup.deltaMinhash(spark, dir).collect().toSeq == real)
    TransientCache.drain()
  }

  test("canonical pick: exactly one keep per cluster, and it has max score") {
    val df = Graph.canonicalPick(spark, dir).cache()
    assert(df.count() > 0)
    val perCluster = df.groupBy(col("component"))
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keeps"),
        max(col("score")).as("best"),
        max(when(col("keep"), col("score"))).as("kept_score"))
    assert(perCluster.filter(col("keeps") =!= 1).isEmpty)
    assert(perCluster.filter(col("kept_score") =!= col("best")).isEmpty)
  }

  test("source caps: at most K per source, deterministic under repartition") {
    val df = TextOps.sourceCaps(spark, dir).cache()
    assert(df.groupBy(col("source")).count()
      .filter(col("count") > TextOps.CapK).isEmpty)
    assert(df.filter(col("rk") < 1 || col("rk") > TextOps.CapK).isEmpty)
    val again = TextOps.sourceCaps(spark, dir).repartition(7)
      .orderBy(col("source"), col("rk")).collect().toSeq
    assert(df.orderBy(col("source"), col("rk")).collect().toSeq == again)
  }

  // --- Chunking / packing / boilerplate / diversity (q64-q67) --------------

  test("chunking: contiguous ids, full coverage, fixed-size non-tail chunks") {
    val chunks = TextOps.chunkTokens(spark, dir).cache()
    assert(chunks.filter(col("n_chunk_toks") < 1 ||
      col("n_chunk_toks") > TextOps.ChunkSize).isEmpty)
    val perDoc = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("nch"), max("chunk_id").as("maxid")).cache()
    assert(perDoc.filter(col("nch") =!= col("maxid") + 1).isEmpty)
    // last chunk ends exactly at the doc's token count — every token covered
    val toksLen = Tables.documents(spark, dir)
      .select(col("doc_id"), size(graft.functions.TextFns.toks(col("text"))).as("n"))
    val tail = chunks.join(perDoc, "doc_id")
      .filter(col("chunk_id") === col("maxid"))
      .select(col("doc_id"),
        (col("chunk_id") * TextOps.ChunkStride + col("n_chunk_toks")).as("cover"))
    assert(tail.join(toksLen, "doc_id").filter(col("cover") =!= col("n")).isEmpty)
    // every non-tail chunk is exactly ChunkSize tokens
    assert(chunks.join(perDoc, "doc_id")
      .filter(col("chunk_id") < col("maxid") &&
        col("n_chunk_toks") =!= TextOps.ChunkSize).isEmpty)
  }

  test("packing: matches the sequential greedy fold; bins tight and consecutive") {
    val packed = TextOps.packSequences(spark, dir).cache()
    val bins = packed.groupBy("source", "bin")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n")).cache()
    // a bin over budget can only be a single oversized doc
    assert(bins.filter(col("tot") > TextOps.PackBudget && col("n") > 1).isEmpty)
    // bin ids per source are 0..max with no gaps
    assert(bins.groupBy("source")
      .agg(countDistinct("bin").as("nb"), max("bin").as("mb"))
      .filter(col("nb") =!= col("mb") + 1).isEmpty)
    // differential vs a driver-side reference fold over the same inputs
    val rows = packed.select("source", "doc_id", "n_tokens", "bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val expected = rows.groupBy(_._1).iterator.flatMap { case (src, ds) =>
      var bin = 0; var acc = 0
      ds.sortBy(_._2).map { case (_, id, n, _) =>
        if (acc + n > TextOps.PackBudget && acc > 0) { bin += 1; acc = 0 }
        acc += n
        (src, id) -> bin
      }
    }.toMap
    assert(rows.forall { case (s, id, _, b) => expected((s, id)) == b })
  }

  test("boilerplate: kept counts consistent, untouched docs identical, non-vacuous") {
    val df = TextOps.boilerplateRemoval(spark, dir).cache()
    assert(df.filter(col("n_kept") > col("n_tokens")).isEmpty)
    assert(df.filter(col("n_kept") =!=
      when(col("clean_text") === "", 0)
        .otherwise(size(split(col("clean_text"), " ")))).isEmpty)
    val orig = Tables.documents(spark, dir).select(col("doc_id"),
      array_join(graft.functions.TextFns.toks(col("text")), " ").as("orig"))
    assert(df.join(orig, "doc_id")
      .filter(col("n_kept") === col("n_tokens") &&
        col("clean_text") =!= col("orig")).isEmpty)
    assert(df.filter(col("n_kept") < col("n_tokens")).count() > 0)
  }

  test("span dedup: counts consistent, removal symmetric across dup copies, non-vacuous") {
    val df = TextOps.spanDedup(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).count())
    assert(df.filter(col("n_kept") > col("n_tokens")).isEmpty)
    assert(df.filter(length(col("clean_md5")) =!= 32).isEmpty)
    // non-vacuous both ways: some docs lose spans, some stay whole
    assert(df.filter(col("n_kept") < col("n_tokens")).count() > 0)
    assert(df.filter(col("n_kept") === col("n_tokens")).count() > 0)
    // untouched docs hash to their original normalized text
    val orig = Tables.documents(spark, dir).select(col("doc_id"),
      md5(array_join(graft.functions.TextFns.toks(col("text")), " ")).as("om"))
    assert(df.join(orig, "doc_id")
      .filter(col("n_kept") === col("n_tokens") &&
        col("clean_md5") =!= col("om")).isEmpty)
    // remove-everywhere semantics: a duplicated span disappears from ALL
    // its carrier docs, so every carrier of some dup span loses tokens —
    // cross-check against an independent dup-span carrier derivation
    val toks = Tables.documents(spark, dir).select(col("doc_id"),
      graft.functions.TextFns.toks(col("text")).as("t"))
    val grams = toks.filter(size(col("t")) >= TextOps.DupSpanN)
      .select(col("doc_id"), explode(
        sequence(lit(1), size(col("t")) - (TextOps.DupSpanN - 1))).as("i"),
        col("t"))
      .select(col("doc_id"),
        array_join(slice(col("t"), col("i"), lit(TextOps.DupSpanN)), " ").as("g"))
    val carriers = grams.join(
        grams.groupBy("g").agg(countDistinct("doc_id").as("ddf"))
          .filter(col("ddf") >= TextOps.DupSpanDf).select("g"), Seq("g"))
      .select("doc_id").distinct()
    val shouldShrink = carriers.join(df, Seq("doc_id"))
    assert(shouldShrink.count() > 0)
    assert(shouldShrink.filter(col("n_kept") === col("n_tokens")).isEmpty,
      "every dup-span carrier must lose the span")
  }

  test("unigram likelihood: probabilities bounded, corpus-mass identity holds") {
    val df = TextOps.unigramLikelihood(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).count())
    assert(df.filter(col("mean_p") <= 0 || col("mean_p") > 1).isEmpty)
    // sum over docs of n_tokens * mean_p = sum over positions of p(tok),
    // which sums the whole model's mass c/total exactly once per
    // occurrence ==> equals 1.0 * total occurrences / total == ... the
    // full corpus sums to total * E[p]; check the exact identity:
    // sum_docs(n * mean_p) == sum_toks(c^2)/total (each distinct token
    // contributes c * (c/total))
    val total = df.agg(sum(col("n_tokens"))).first().getLong(0)
    val lhs = df.select((col("n_tokens") * col("mean_p")).as("m"))
      .agg(sum(col("m"))).first().getDouble(0)
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFns.toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val rhs = toks.select((col("c") * col("c")).cast("double").as("cc"))
      .agg(sum(col("cc"))).first().getDouble(0) / total
    assert(math.abs(lhs - rhs) < 1e-6 * rhs, s"$lhs vs $rhs")
    // rare-vocab docs score below stopword-heavy docs on average: the
    // score must not be constant
    assert(df.select(col("mean_p")).distinct().count() > 1)
  }

  test("bigram likelihood: bounds, zero-token nulls, model-mass identity") {
    val df = TextOps.bigramLikelihood(spark, dir).cache()
    val nDocs = Tables.documents(spark, dir).count()
    assert(df.count() == nDocs, "one score row per document")
    assert(df.filter(col("n_tokens") === 0 && col("mean_p").isNotNull).isEmpty)
    assert(df.filter(col("n_tokens") > 0 && col("mean_p").isNull).isEmpty)
    // interpolated probabilities live in (0, 1]
    assert(df.filter(col("mean_p") <= 0 || col("mean_p") > 1).isEmpty)
    assert(df.select(col("mean_p")).distinct().count() > 1)
    // model-mass identity, each component against INDEPENDENTLY rebuilt
    // counts: sum_docs(n * mean_p) = 0.75 * sum_{(prev,cur)} c2^2/ctx
    //                              + 0.25 * sum_cur c1^2/total
    // (each bigram occurrence contributes its own model probability once)
    val lhs = df.select((col("n_tokens") * col("mean_p")).as("m"))
      .agg(sum(col("m"))).first().getDouble(0)
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFns.toks(col("text")))
          .as(Seq("pos0", "cur")),
        graft.functions.TextFns.toks(col("text")).as("t"))
      .select(col("doc_id"),
        when(col("pos0") === 0, lit("<s>"))
          .otherwise(element_at(col("t"), col("pos0"))).as("prev"), col("cur"))
      .cache()
    val c2 = tok.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
      .withColumn("ctx", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))))
    val bigMass = c2
      .select((col("c2") * col("c2") / col("ctx").cast("double")).as("m"))
      .agg(sum(col("m"))).first().getDouble(0)
    val c1 = tok.groupBy("cur").agg(count(lit(1)).as("c1")).cache()
    val total = c1.agg(sum(col("c1"))).first().getLong(0)
    val uniMass = c1.select((col("c1") * col("c1")).cast("double").as("m"))
      .agg(sum(col("m"))).first().getDouble(0) / total
    val rhs = 0.75 * bigMass + 0.25 * uniMass
    assert(math.abs(lhs - rhs) < 1e-6 * rhs, s"$lhs vs $rhs")
    tok.unpersist(); c1.unpersist(); df.unpersist()
    graft.TransientCache.drain()
  }

  // driver-side references for the q77/q92 language-model scores: model
  // counts, divisions and the position-ordered fold all run on the
  // driver; only tokenization is the engine's (its split/filter
  // equivalence is spec'd in VectorExprsSpec)

  private def docTokens(d: String): Seq[(Long, Seq[String])] =
    Tables.documents(spark, d)
      .select(col("doc_id"), graft.functions.TextFns.toks(col("text")))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)))
      .toSeq

  private def meanOf(ps: Seq[Double]): Option[Double] =
    if (ps.isEmpty) None else Some(ps.foldLeft(0.0)(_ + _) / ps.size)

  private def refUnigram(docs: Seq[(Long, Seq[String])]): Map[Long, (Int, Option[Double])] = {
    val c = docs.flatMap(_._2).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    val total = c.values.sum
    docs.map { case (id, t) => id -> (t.size, meanOf(t.map(x => c(x).toDouble / total))) }.toMap
  }

  private def refBigram(docs: Seq[(Long, Seq[String])]): Map[Long, (Int, Option[Double])] = {
    def pairs(t: Seq[String]) = t.indices.map(i => (if (i == 0) "<s>" else t(i - 1), t(i)))
    val all = docs.flatMap(d => pairs(d._2))
    val c2 = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ctx = c2.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val c1 = all.groupBy(_._2).map { case (w, v) => w -> v.size.toLong }
    val total = c1.values.sum
    docs.map { case (id, t) =>
      id -> (t.size, meanOf(pairs(t).map { case k @ (prev, cur) =>
        0.75 * (c2(k).toDouble / ctx(prev)) + 0.25 * (c1(cur).toDouble / total)
      }))
    }.toMap
  }

  private def scoreRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Option[Double])] = {
    val out = df.select(col("doc_id"), col("n_tokens"), col("mean_p")).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    graft.TransientCache.drain()
    out
  }

  /** A documents table of null, empty, whitespace-only, unicode and
    * duplicated texts — the shapes the fixture never holds.
    */
  private def edgeDocsDir(): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-edge-docs").toString
    Seq[(Long, String)](
      1L -> null, 2L -> "", 3L -> "   \t \n ", 4L -> "Straße ÜBER straße",
      5L -> "日本語 テキスト 日本語", 6L -> "emoji 🙂 text 🙂", 7L -> "the the the",
      8L -> "Straße ÜBER straße", 9L -> "x", 10L -> "the ünïcode text")
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src00").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("unigram likelihood equals a driver-side model fit and ordered fold bit-for-bit") {
    val got = scoreRows(TextOps.unigramLikelihood(spark, dir))
    val want = refUnigram(docTokens(dir))
    assert(got.size == 500)
    assert(got == want)
  }

  test("bigram likelihood equals a driver-side interpolated model bit-for-bit") {
    val got = scoreRows(TextOps.bigramLikelihood(spark, dir))
    assert(got == refBigram(docTokens(dir)))
  }

  test("unigram likelihood on null, empty, whitespace-only and unicode texts keeps every doc") {
    val d = edgeDocsDir()
    val got = scoreRows(TextOps.unigramLikelihood(spark, d))
    assert(got.keySet == (1L to 10L).toSet, "no document may drop out")
    assert(Seq(1L, 2L, 3L).forall(id => got(id) == ((0, None))),
      "a zero-token doc scores n_tokens 0 with a null score")
    assert(got(4L)._1 == 3 && got(5L)._1 == 3 && got(6L)._1 == 4)
    assert(got == refUnigram(docTokens(d)))
  }

  test("bigram likelihood on null, empty, whitespace-only and unicode texts keeps every doc") {
    val d = edgeDocsDir()
    val got = scoreRows(TextOps.bigramLikelihood(spark, d))
    assert(got.keySet == (1L to 10L).toSet, "no document may drop out")
    assert(Seq(1L, 2L, 3L).forall(id => got(id) == ((0, None))))
    assert(got == refBigram(docTokens(d)))
  }

  test("q16/q17/q18 on null, empty, whitespace-only and unicode texts: NULL ratios, no DIVIDE_BY_ZERO") {
    val d = edgeDocsDir()
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Option[Any]]] =
      df.collect().toSeq.map(r => r.toSeq.map(Option(_)))
    // expected rows: the q16/q17/q18 oracle SQL run by DuckDB 1.0.0 on
    // the same ten documents (DuckDB's x/0 is NULL)
    val N = None
    assert(rowsOf(TextOps.tokenStats(spark, d)) == Seq(
      Seq(Some(1L), N, N, N, N, N),
      Seq(Some(2L), Some(0), Some(0), Some(0), N, N),
      Seq(Some(3L), Some(0), Some(0), Some(0), N, N),
      Seq(Some(4L), Some(3), Some(2), Some(8), Some(0.6666666666666666), Some(5.333333333333333)),
      Seq(Some(5L), Some(3), Some(2), Some(10), Some(0.6666666666666666), Some(3.3333333333333335)),
      Seq(Some(6L), Some(4), Some(3), Some(4), Some(0.75), Some(2.75)),
      Seq(Some(7L), Some(3), Some(1), Some(3), Some(0.3333333333333333), Some(3.0)),
      Seq(Some(8L), Some(3), Some(2), Some(8), Some(0.6666666666666666), Some(5.333333333333333)),
      Seq(Some(9L), Some(1), Some(1), Some(1), Some(1.0), Some(1.0)),
      Seq(Some(10L), Some(3), Some(3), Some(6), Some(1.0), Some(4.666666666666667))))
    val en = Some("en")
    val und = Some("und")
    assert(rowsOf(TextOps.langProfile(spark, d)) == Seq(
      Seq(Some(1L), en, N, N, N, und, Some(false)),
      Seq(Some(2L), en, Some(0), Some(0), N, und, Some(false)),
      Seq(Some(3L), en, Some(0), Some(0), N, und, Some(false)),
      Seq(Some(4L), en, Some(0), Some(0), Some(0.0), und, Some(false)),
      Seq(Some(5L), en, Some(0), Some(0), Some(0.0), und, Some(false)),
      Seq(Some(6L), en, Some(0), Some(0), Some(0.0), und, Some(false)),
      Seq(Some(7L), en, Some(3), Some(0), Some(1.0), en, Some(true)),
      Seq(Some(8L), en, Some(0), Some(0), Some(0.0), und, Some(false)),
      Seq(Some(9L), en, Some(0), Some(0), Some(0.0), und, Some(false)),
      Seq(Some(10L), en, Some(1), Some(0), Some(0.3333333333333333), en, Some(true))))
    val low = Some("low")
    assert(rowsOf(TextOps.qualityScore(spark, d)) == Seq(
      Seq(Some(1L), N, N, N, low),
      Seq(Some(2L), Some(0), Some(0), N, low),
      Seq(Some(3L), Some(7), Some(0), N, low),
      Seq(Some(4L), Some(18), Some(3), Some(0.17200000000000001), low),
      Seq(Some(5L), Some(12), Some(3), Some(0.112), low),
      Seq(Some(6L), Some(14), Some(4), Some(0.0985), low),
      Seq(Some(7L), Some(11), Some(3), Some(0.402), Some("medium")),
      Seq(Some(8L), Some(18), Some(3), Some(0.17200000000000001), low),
      Seq(Some(9L), Some(1), Some(1), Some(0.034), low),
      Seq(Some(10L), Some(16), Some(3), Some(0.252), low)))
    graft.TransientCache.drain()
  }

  test("collocations: lift identity vs driver-side counts, guards hold") {
    val got = TextOps.collocations(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    graft.TransientCache.drain()
    assert(got.length == TextOps.CollocK)
    assert(got.forall(_._3 >= TextOps.CollocMinCount), "min support")
    assert(got.forall(_._1 != "<s>"), "sentinel is context, not a word")
    // ranked by (lift desc, prev, cur) — a total order
    assert(got.sliding(2).forall { case Array((p1, c1, _, l1), (p2, c2, _, l2)) =>
      l1 > l2 || (l1 == l2 && (p1 < p2 || (p1 == p2 && c1 < c2)))
    })
    // lift recomputed from INDEPENDENT driver-side counts, bit-exact
    // (one division of exact integers in both paths)
    val docs = Tables.documents(spark, dir).select(col("text"))
      .collect().map(_.getString(0))
    val toks = docs.map(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    var total = 0L
    for (t <- toks; i <- t.indices) {
      uni(t(i)) = uni.getOrElse(t(i), 0L) + 1; total += 1
      if (i > 0) {
        val k = (t(i - 1), t(i)); bi(k) = bi.getOrElse(k, 0L) + 1
      }
    }
    for ((p, c, n, lift) <- got) {
      assert(bi((p, c)) == n, s"($p,$c) count")
      assert(lift == (n * total).toDouble / (uni(p) * uni(c)).toDouble,
        s"($p,$c) lift")
    }
  }

  test("cooccurrence: full top-k recomputed from an independent driver-side window scan") {
    val got = TextOps.cooccurrence(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    graft.TransientCache.drain()
    assert(got.length == TextOps.CoocK)
    assert(got.forall(_._3 >= TextOps.CoocMinCount), "min support")
    assert(got.forall(p => p._1 < p._2), "pairs canonical and non-self")
    // the COMPLETE expected top-k from an independent driver-side
    // window scan — same tokenizer, same window, same canonicalization,
    // same single exact-integer division, same total order
    val docs = Tables.documents(spark, dir).select(col("text"))
      .collect().map(_.getString(0))
    val toksD = docs.map(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val cp = scala.collection.mutable.Map.empty[(String, String), Long]
    var total = 0L
    for (t <- toksD; i <- t.indices) {
      uni(t(i)) = uni.getOrElse(t(i), 0L) + 1; total += 1
      for (j <- (i + 1) until math.min(i + 1 + TextOps.CoocWindow, t.length)
           if t(i) != t(j)) {
        val k = if (t(i) < t(j)) (t(i), t(j)) else (t(j), t(i))
        cp(k) = cp.getOrElse(k, 0L) + 1
      }
    }
    val expect = cp.toSeq
      .filter(_._2 >= TextOps.CoocMinCount)
      .map { case ((a, b), n) =>
        (a, b, n, (n * total).toDouble / (uni(a) * uni(b)).toDouble) }
      .sortBy { case (a, b, _, lift) => (-lift, a, b) }
      .take(TextOps.CoocK)
    assert(got == expect, s"engine top-k != driver reference:\n$got\nvs\n$expect")
  }

  test("mixture weights equal a driver-side sqrt-share renormalization bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    for (nSources <- Seq(1, 2, 7)) {
      // skewed source sizes: source k holds about 2^k docs
      val docs = (0 until nSources).flatMap(k =>
        Seq.fill(1 + rnd.nextInt(1 << (k + 1)))(f"src$k%02d"))
      val got = TextOps.mixtureWeightsOf(docs.toDF("source")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toSeq
      graft.TransientCache.drain()
      val counts = docs.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
        .toSeq.sortBy(_._1)
      val total = counts.map(_._2).sum
      val w = counts.map { case (s, n) => (s, n, n.toDouble / total) }
      val norm = w.foldLeft(0.0)((acc, x) => acc + math.sqrt(x._3))
      val want = w.map { case (s, n, share) =>
        (s, n, share, math.sqrt(share) / norm, math.sqrt(share) / norm * total)
      }
      assert(got == want, s"$nSources sources")
    }
  }

  test("mixture weights: normalized, temperature up-weights small sources") {
    val df = TextOps.mixtureWeights(spark, dir).cache()
    val srcs = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == srcs)
    // weights form a distribution
    val wsum = df.agg(sum(col("weight"))).first().getDouble(0)
    assert(math.abs(wsum - 1.0) < 1e-12)
    val ssum = df.agg(sum(col("share"))).first().getDouble(0)
    assert(math.abs(ssum - 1.0) < 1e-12)
    // alpha < 1 flattens: every weight sits between its share and the
    // uniform 1/|sources| (strictly, unless the mix is already uniform)
    assert(df.filter(col("share") < 1.0 / srcs)
      .filter(col("weight") <= col("share") - lit(1e-15)).isEmpty,
      "small sources must be up-weighted")
    assert(df.filter(col("share") > 1.0 / srcs)
      .filter(col("weight") >= col("share") + lit(1e-15)).isEmpty,
      "large sources must be down-weighted")
    // expected_docs preserves corpus size
    val esum = df.agg(sum(col("expected_docs"))).first().getDouble(0)
    val n = Tables.documents(spark, dir).count()
    assert(math.abs(esum - n) < 1e-9 * n)
  }

  test("token diversity: simpson and max_p within algebraic bounds") {
    val df = TextOps.tokenDiversity(spark, dir).cache()
    assert(df.count() > 0)
    assert(df.filter(col("simpson") < 0 || col("simpson") >= 1).isEmpty)
    assert(df.filter(col("max_p") <= 0 || col("max_p") > 1).isEmpty)
    assert(df.filter(col("n_uniq") > col("n_tokens") || col("n_uniq") < 1).isEmpty)
    // modal frequency at least uniform; Simpson capped by the uniform case
    assert(df.filter(col("max_p") * col("n_uniq") < 1.0 - 1e-9).isEmpty)
    assert(df.filter(
      col("simpson") > lit(1.0) - lit(1.0) / col("n_uniq") + lit(1e-9)).isEmpty)
    assert(df.filter(col("n_uniq") === 1 && col("simpson") =!= 0.0).isEmpty)
  }

  test("token diversity: run-length fold is bit-identical to the naive rescan") {
    // the O(n log n) production form must reproduce the O(uniq·n)
    // reference EXACTLY — same double fold order, so === on doubles
    val fast = TextOps.tokenDiversity(spark, dir).collect().map(_.toSeq)
    val ref = TextOps.tokenDiversityQuadratic(spark, dir).collect().map(_.toSeq)
    assert(fast.length == ref.length && fast.nonEmpty)
    fast.zip(ref).foreach { case (a, b) => assert(a == b, s"mismatch: $a vs $b") }
  }

  test("shard assign: exact prefix sum, consecutive balanced shards") {
    val df = TextOps.shardAssign(spark, dir).cache()
    val rows = df.orderBy("shard", "shard_pos")
      .select("n_tokens", "cum_tokens", "shard")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    // the two-phase distributed cumsum equals a sequential running sum
    var run = 0L
    rows.foreach { case (n, cum, sh) =>
      run += n
      assert(cum == run)
      assert(sh == (cum - n) / TextOps.ShardBudget)
    }
    // shards are 0..max with no gaps, and no shard exceeds budget + max doc
    val shards = rows.map(_._3).distinct.sorted
    assert(shards.head == 0 && shards.last == shards.length - 1)
    val maxDoc = rows.map(_._1).max
    val totals = rows.groupBy(_._3).values.map(_.map(_._1.toLong).sum)
    assert(totals.forall(_ <= TextOps.ShardBudget + maxDoc))
  }

  test("mix resample: copy counts follow the per-source rate class") {
    val df = TextOps.mixResample(spark, dir).cache()
    assert(df.filter(col("copy_id") < 1 || col("copy_id") > col("n_copies")).isEmpty)
    // per doc: exactly n_copies rows
    assert(df.groupBy("doc_id", "n_copies").count()
      .filter(col("count") =!= col("n_copies")).isEmpty)
    val cls = substring(col("source"), 4, 10).cast("int") % 4
    assert(df.filter(cls === 0 && (col("n_copies") < 2 || col("n_copies") > 3)).isEmpty)
    assert(df.filter(cls === 1 && col("n_copies") =!= 1).isEmpty)
    assert(df.filter((cls === 2 || cls === 3) && col("n_copies") =!= 1).isEmpty)
    // downsampled classes actually dropped docs (rate < 1 is non-vacuous)
    val docs = Tables.documents(spark, dir)
    val kept2 = df.filter(cls === 2).select("doc_id").distinct().count()
    val all2 = docs.filter(substring(col("source"), 4, 10).cast("int") % 4 === 2).count()
    assert(kept2 < all2 && kept2 > 0)
  }

  test("label centroids: full grid, consistent counts, fold matches avg") {
    val df = Similarity.labelCentroids(spark, dir).cache()
    val labels = Tables.embeddings(spark, dir).select("label").distinct().count()
    assert(df.count() == labels * 64)
    // n_vecs is constant across dimensions of one label
    assert(df.groupBy("label").agg(countDistinct("n_vecs").as("nd"))
      .filter(col("nd") =!= 1).isEmpty)
    // the ordered fold agrees with the commutative average to float noise
    val direct = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .groupBy(col("label"), (col("p0") + 1).as("pos"))
      .agg(avg(col("v").cast("double")).as("m2"))
    assert(df.join(direct, Seq("label", "pos"))
      .filter(abs(col("mean") - col("m2")) > 1e-9).isEmpty)
  }

  // --- Dq ------------------------------------------------------------------

  test("dq exclusions: reasons partition the rule/manual flag space") {
    val df = Dq.dqExclusions(spark, dir).cache()
    assert(df.count() > 0)
    val reasons = df.select("reason").distinct().collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("abs_stock_after_too_large", "manual_exclusion", "manual_and_threshold")))
    // uniq is unique
    assert(df.count() == df.select("uniq").distinct().count())
  }

  test("dq filtered ledger excludes exactly the flagged ids") {
    val led = Tables.ledger(spark, dir)
    val excluded = Dq.dqExclusions(spark, dir).select("hist_id").distinct().count()
    val kept = Dq.dqFilteredLedger(spark, dir).agg(sum("n_events")).first().getLong(0)
    assert(kept + excluded == led.count())
  }

  // --- q89 incremental ANN -------------------------------------------------

  test("q89 nightly ANN loop: append == rebuild-encode; replay is a no-op; frozen fits") {
    Similarity.clearKmeansMemo(spark) // also drops the ann index
    val emb = Tables.embeddings(spark, dir)
    val night1 = emb.filter(col("vec_id") % 10 === 8)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    // the q89 query at the base state == the union of the two nights'
    // screens (disjoint probe sets, same base index)
    val q89 = asSet(Similarity.deltaAnn(spark, dir))
    val s1 = asSet(Similarity.screenAnnAgainstIndex(spark, dir, night1))
    val s2 = asSet(Similarity.screenAnnAgainstIndex(spark, dir,
      emb.filter(col("vec_id") % 10 === 9)))
    assert(q89 == (s1 ++ s2) && q89.nonEmpty)

    // the fits are FROZEN: building the index + three screens paid at
    // most one corpus coarse fit and one corpus PQ fit (plus the base
    // fits the memo already held); further appends/screens refit nothing
    val (kmF, pqF) = (Similarity.kmFitCount.get(), Similarity.pqFitCount.get())
    // the loop's own index, built from the base corpus with the same fits
    val root = java.nio.file.Files.createTempDirectory("graft-annloop").toString
    val cents = Similarity.corpusKmeansCentroids(spark, dir)
    val cbs = Similarity.corpusPqCodebooks(spark, dir)
    def current() = Similarity.annIndexAt(spark, dir, root)
    val idx1 = Similarity.appendAnnWith(current(), cents, cbs, night1)
    assert(Similarity.kmFitCount.get() == kmF && Similarity.pqFitCount.get() == pqF,
      "append must encode with frozen fits, never refit")

    // append == rebuild-encode: the widened table is bit-identical to a
    // from-scratch encode of corpus ∪ night1 under the same frozen fits
    val want = asSet(Similarity.pqCodesOf(
      Similarity.vecsOf(emb.filter(col("vec_id") % 10 < 8 || col("vec_id") % 10 === 8)),
      cents, cbs))
    assert(asSet(idx1.codes) == want)
    assert(idx1.codes.count() == want.size, "codes rows must be key-unique")

    // replay of an already-appended batch: no-op on the table
    val again = Similarity.appendAnnWith(current(), cents, cbs, night1)
    assert(asSet(again.codes) == want && again.codes.count() == want.size)
    // a vector the index absorbed is seen-guarded out of the screen
    assert(Similarity.screenAnnWith(spark, dir, current(), cents, cbs, night1).isEmpty,
      "an absorbed batch must not screen (it would match itself)")

    // IN-BATCH redelivery: the at-rest anti-join only guards against
    // committed rows, so a source that repeats a vec_id within one
    // micro-batch must still append it exactly once
    val night2 = emb.filter(col("vec_id") % 10 === 9)
    val idx2 = Similarity.appendAnnWith(current(), cents, cbs, night2.union(night2))
    assert(idx2.codes.count() ==
      idx2.codes.select(col("vec_id")).distinct().count(),
      "duplicate vec_ids within one batch must collapse to one codes row")
    Similarity.clearKmeansMemo(spark)
  }

  test("q89 screen quality: exact re-rank scores and a recall floor vs brute force") {
    Similarity.clearKmeansMemo(spark)
    val pq = Similarity.deltaAnn(spark, dir).cache()
    assert(pq.filter(col("rank") > Similarity.AnnK).isEmpty)
    // brute-force reference: every batch vector against the corpus side
    // (exactly the screen's candidate universe at the base index state)
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val q = emb.filter(col("vec_id") % 10 >= 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val c = emb.filter(col("vec_id") % 10 < 8)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("bscore").desc, col("vec_id"))
    val bf = c.crossJoin(broadcast(q))
      .withColumn("bscore", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("brank", row_number().over(w))
      .filter(col("brank") <= Similarity.AnnK)
      .select(col("q_id"), col("vec_id"), col("bscore")).cache()
    // any hit shared with brute force carries the IDENTICAL score (the
    // re-rank is true-vector cosine; ADC only selects candidates)
    val shared = pq.join(bf, Seq("q_id", "vec_id")).cache()
    shared.collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("score")) ==
        r.getDouble(r.fieldIndex("bscore")), "re-rank must be exact")
    }
    // The dominant, FIXTURE-SENSITIVE loss is coarse probing (NProbe of
    // the corpus cells — q81's layer); the code-owned losses (frozen
    // fits, codes, the PqCandK ADC cut) sit on top of it. So derive the
    // floor at runtime: compute the exact coarse-probe recall bound on
    // the CURRENT fixtures (exact cosine restricted to each query's
    // probed cells) and require the full pipeline to retain >= 80% of
    // it. Fixture regeneration moves both sides together; a drop below
    // 0.8x means the fits, the codes, or the candidate cut regressed.
    // (r9 fixtures measure: pipeline 0.473 vs coarse bound ~0.5.)
    val cents = Similarity.corpusKmeansCentroids(spark, dir)
    val cvs = c.select(col("vec_id"), col("v"), col("nrm")).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
    val qs = q.select(col("q_id"), col("qv"), col("qn")).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
    val bfTop = bf.collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val coarseBound = coarseProbeBound(cents, cvs, qs, bfTop)
    val recall = shared.count().toDouble / bf.count()
    assert(coarseBound > 0.0, "coarse-probe bound degenerate on these fixtures")
    assert(recall >= 0.8 * coarseBound,
      s"delta-ANN recall@${Similarity.AnnK} fell to $recall vs coarse bound $coarseBound")
    pq.unpersist(); bf.unpersist(); shared.unpersist()
    Similarity.clearKmeansMemo(spark)
  }

  test("q89 corpus side is the at-rest codes table: injection drives the output") {
    Similarity.clearKmeansMemo(spark)
    assert(Similarity.deltaAnn(spark, dir).count() > 0)
    // poison, in place: the fixture root's codes table emptied — a
    // screen that recomputed corpus codes from raw vectors would still
    // emit rows
    val wh = new graft.pipelines.Warehouse(spark, Similarity.annIndexAtRest(spark, dir).root)
    wh.write("corpus_codes", wh.read("corpus_codes").limit(0))
    assert(Similarity.deltaAnn(spark, dir).isEmpty)
    Similarity.clearKmeansMemo(spark) // the fixture roots too
  }

  test("q89 durable index root survives a process restart") {
    Similarity.clearKmeansMemo(spark)
    val emb = Tables.embeddings(spark, dir)
    val night1 = emb.filter(col("vec_id") % 10 === 8)
    val night2 = emb.filter(col("vec_id") % 10 === 9)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    def screen2(root: String) = asSet(Similarity.screenAnnWith(spark, dir,
      Similarity.annIndexAt(spark, dir, root), Similarity.corpusKmeansCentroids(spark, dir),
      Similarity.corpusPqCodebooks(spark, dir), night2))
    def append1(root: String) = Similarity.appendAnnWith(Similarity.annIndexAt(spark, dir, root),
      Similarity.corpusKmeansCentroids(spark, dir), Similarity.corpusPqCodebooks(spark, dir), night1)
    // reference: append + screen in ONE process lifetime
    val tmp = java.nio.file.Files.createTempDirectory("graft-annroot").toString
    append1(s"$tmp/ref")
    val want = screen2(s"$tmp/ref")

    // durable run: build at a caller-owned root, append, then a SIMULATED
    // RESTART (every memo wiped, the fits included), reopen — night 2
    // must still screen against the appended night 1
    val root = s"$tmp/idx"
    append1(root)
    Similarity.clearKmeansMemo(spark) // "restart": in-memory memos gone
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root)),
      "caller-owned root must survive clearKmeansMemo")
    assert(screen2(root) == want)
    Similarity.clearKmeansMemo(spark)
  }

  test("incremental ANN contract holds at the M=8x8 geometry end-to-end") {
    Similarity.clearKmeansMemo(spark)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // frozen corpus-side fits at the NON-default tiling: same coarse
    // cells, 8 subspaces of 8 dims each
    val cents = Similarity.corpusKmeansCentroids(spark, dir)
    val cbs8 = Similarity.fitPqGeometry(spark, dir, 8, 8, corpusOnly = true)
    assert(cbs8.length == 8 && cbs8.head.head.length == 8)
    val emb = Tables.spread(Tables.embeddings(spark, dir))
    val root = java.nio.file.Files.createTempDirectory("graft_ann8i_").toString
    val wh = new graft.pipelines.Warehouse(spark, root)
    wh.write("corpus_codes", Similarity.pqCodesOf(
      Similarity.vecsOf(emb.filter(col("vec_id") % 10 < 8)), cents, cbs8))
    var idx = Similarity.AnnIndex(wh.read("corpus_codes"), root)

    // the full delta screen at 8x8: rank bounds + exact re-rank + the
    // same runtime recall rule as the default geometry
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    val pq8 = Similarity.screenAnnWith(spark, dir, idx, cents, cbs8, batch).cache()
    assert(pq8.count() > 0 && pq8.filter(col("rank") > Similarity.AnnK).isEmpty)
    val embd = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dotC = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val q = embd.filter(col("vec_id") % 10 >= 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", sqrt(dotC(col("qv"), col("qv"))))
    val c = embd.filter(col("vec_id") % 10 < 8)
      .withColumn("nrm", sqrt(dotC(col("v"), col("v"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("bscore").desc, col("vec_id"))
    val bf = c.crossJoin(broadcast(q))
      .withColumn("bscore", dotC(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("brank", row_number().over(w))
      .filter(col("brank") <= Similarity.AnnK)
      .select(col("q_id"), col("vec_id"), col("bscore")).cache()
    val shared = pq8.join(bf, Seq("q_id", "vec_id")).cache()
    shared.collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("score")) ==
        r.getDouble(r.fieldIndex("bscore")), "re-rank must be exact at 8x8")
    }
    val cvs = c.select(col("vec_id"), col("v"), col("nrm")).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
    val qs = q.select(col("q_id"), col("qv"), col("qn")).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
    val bfTop = bf.collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val bound = coarseProbeBound(cents, cvs, qs, bfTop)
    val recall = shared.count().toDouble / bf.count()
    assert(recall >= 0.8 * bound,
      s"8x8 delta-ANN recall fell to $recall vs coarse bound $bound")
    pq8.unpersist(); bf.unpersist(); shared.unpersist()

    // append == rebuild-encode, bit-identical at the 8x8 geometry
    val night1 = emb.filter(col("vec_id") % 10 === 8)
    idx = Similarity.appendAnnWith(idx, cents, cbs8, night1)
    val want = asSet(Similarity.pqCodesOf(
      Similarity.vecsOf(emb.filter(col("vec_id") % 10 < 8 || col("vec_id") % 10 === 8)),
      cents, cbs8))
    assert(asSet(idx.codes) == want,
      "8x8 append must equal a from-scratch rebuild-encode")
    // replay no-op; an absorbed batch is seen-guarded out of the screen
    idx = Similarity.appendAnnWith(idx, cents, cbs8, night1)
    assert(asSet(idx.codes) == want && idx.codes.count() == want.size)
    assert(Similarity.screenAnnWith(spark, dir, idx, cents, cbs8, night1).isEmpty,
      "an absorbed 8x8 batch must not screen")
    Similarity.clearKmeansMemo(spark)
  }

  private def tokFrame(docs: Seq[String]) = {
    import spark.implicits._
    docs.toDF("text").select(
      graft.functions.TextFns.toks(col("text")).as("t"))
  }

  private def bpeRows(docs: Seq[String]) = {
    val rows = operators.TextOps.bpeMergesOf(tokFrame(docs)).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
    graft.TransientCache.drain()
    rows
  }

  test("bpe merges: greedy left-to-right scan, winner by (count, pair)") {
    // "a a a a" (one word 'aaaa'? no — words are whitespace tokens).
    // Corpus: the word "aaaa" x3 and "ab" x2. Round 1 pairs: (a,a)
    // weighted 3 per adjacency x3 adjacencies = 9, (a,b) = 2 -> winner
    // (a,a). GREEDY merge inside "aaaa": aa|aa (two merges, NOT three
    // overlapping) -> round 2 pairs: (aa,aa) = 3, (a,b) = 2 -> winner
    // (aa,aa). Round 3: "aaaa" is one symbol; only (a,b) = 2 remains.
    val got = bpeRows(Seq("aaaa aaaa aaaa ab ab"))
    assert(got(0) == (1, "a", "a", "aa", 9L), s"round 1: ${got(0)}")
    assert(got(1) == (2, "aa", "aa", "aaaa", 3L), s"round 2: ${got(1)}")
    assert(got(2) == (3, "a", "b", "ab", 2L), s"round 3: ${got(2)}")
  }

  test("bpe merges: odd runs leave the unpaired tail symbol alone") {
    // "aaa": greedy left-to-right pairs the first two only -> after
    // round 1 the word is [aa, a], so round 2's top pair is (aa, a).
    val got = bpeRows(Seq("aaa aaa aaa aaa"))
    assert(got(0) == (1, "a", "a", "aa", 8L), s"round 1: ${got(0)}")
    assert(got(1) == (2, "aa", "a", "aaa", 4L), s"round 2: ${got(1)}")
  }

  test("bpe merges: a merged symbol is never split by a later search") {
    // Boundary safety: after (a,b) merges in "xaby", the pair (b,y)
    // must count the SYMBOL b — which no longer exists standalone —
    // zero times; the encoding's wrapped boundaries make a partial
    // match against the tail of "ab" impossible.
    // Corpus tuned so round 1 = (a,b): "ab" x5 gives (a,b)=5; "xaby" x3
    // adds (x,a)=(a,b)=(b,y)=3 -> (a,b)=8 wins. Round 2 candidates:
    // (x,ab)=3, (ab,y)=3, tie broken by pair -> (ab,y). (b,y) must be
    // GONE (b survives standalone nowhere).
    val got = bpeRows(Seq("ab ab ab ab ab xaby xaby xaby"))
    assert(got(0) == (1, "a", "b", "ab", 8L), s"round 1: ${got(0)}")
    assert(got(1) == (2, "ab", "y", "aby", 3L), s"round 2: ${got(1)}")
    assert(!got.exists(r => r._2 == "b" && r._3 == "y"),
      "pair (b, y) would mean the boundary invariant broke")
  }

  test("bpe merges: ties break on the (l, r) pair, deterministically") {
    // (a,b) and (c,d) both count 4; (a,b) < (c,d) lexically.
    val got = bpeRows(Seq("ab ab ab ab cd cd cd cd"))
    assert(got(0) == (1, "a", "b", "ab", 4L), s"round 1: ${got(0)}")
    assert(got(1) == (2, "c", "d", "cd", 4L), s"round 2: ${got(1)}")
  }

  test("bpe merges: stray U+001F separators are stripped at encode") {
    // A word containing the boundary character itself must behave as if
    // the character were absent — the invariant is self-enforced, not
    // assumed of upstream text.
    val sep = "\u001f"
    val a = bpeRows(Seq(s"ab${sep}cd ab${sep}cd ab${sep}cd"))
    val b = bpeRows(Seq("abcd abcd abcd"))
    assert(a.toSeq == b.toSeq, "stray separator must be a no-op")
  }

  test("bpe merges: the merge sequence is prefix-stable in the round count") {
    // Greedy BPE is sequential by definition: training 2 rounds must
    // produce exactly the first 2 rows of training 4 — a regression here
    // would mean the chain's caching/sequencing leaks across rounds.
    val docs = Seq("the cat sat on the mat the cat sat the bat",
      "banana bandana cabana the cat", "thee them then the")
    val r4 = bpeRows(docs)
    val r2 = operators.TextOps.bpeMergesOf(tokFrame(docs), rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    graft.TransientCache.drain()
    assert(r4.length == 4 && r2.length == 2)
    assert(r4.take(2).toSeq == r2.toSeq,
      s"prefix instability: ${r4.take(2).toSeq} vs ${r2.toSeq}")
  }

  test("bpe segment: fewer learned merges can only coarsen the compression") {
    val s2 = operators.TextOps.bpeSegmentOf(
        Tables.documents(spark, dir).select(col("doc_id"),
          graft.functions.TextFns.toks(col("text")).as("t")), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    graft.TransientCache.drain()
    val s4 = operators.TextOps.bpeSegment(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    graft.TransientCache.drain()
    assert(s2.keySet == s4.keySet)
    // each extra merge can only reduce (or hold) a doc's symbol count
    assert(s4.forall { case (id, n4) => n4 <= s2(id) },
      "4-round segmentation produced MORE symbols than 2-round somewhere")
    assert(s4.exists { case (id, n4) => n4 < s2(id) },
      "4 rounds vs 2 changed nothing — the fixture should exercise merges 3-4")
  }

  /** Independent plain-Scala BPE reference (greedy left-to-right merge
    * over symbol vectors — no strings-with-separators, no Spark), for
    * the randomized differential below. Tie order matches the engine's
    * (count desc, then the pair).
    */
  private def refBpeMerges(docs: Seq[String], rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    def mergeGreedy(syms: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          b += (l + r); i += 2
        } else { b += syms(i); i += 1 }
      }
      b.result()
    }
    val words = docs.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    var vocab: Map[String, (Vector[String], Long)] = words.map { case (w, c) =>
      w -> (w.replace("\u001f", "").map(_.toString).toVector, c)
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, (syms, c)) <- vocab; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (pc.nonEmpty) {
        val ((l, rr), cnt) = pc.toSeq.minBy { case ((l0, r0), c0) => (-c0, l0, r0) }
        out += ((r, l, rr, l + rr, cnt))
        vocab = vocab.map { case (w, (syms, c)) => w -> (mergeGreedy(syms, l, rr), c) }
      }
    }
    out.result()
  }

  test("bpe merges: randomized differential vs an independent reference") {
    // deterministic corpus generator (fixed seed): small alphabets make
    // pair-count ties and repeated-symbol runs COMMON, which is exactly
    // where a string-encoded greedy scan could diverge from the
    // symbol-vector reference
    val rnd = new scala.util.Random(20260814L)
    def corpus(alpha: String, nWords: Int, nDocs: Int): Seq[String] = {
      val lexicon = Vector.fill(nWords)(
        (1 to (1 + rnd.nextInt(5))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      Seq.fill(nDocs)(
        (1 to (3 + rnd.nextInt(15))).map(_ => lexicon(rnd.nextInt(lexicon.length)))
          .mkString(" "))
    }
    val cases = Seq(
      corpus("ab", 6, 6),      // binary alphabet: maximal tie pressure
      corpus("abc", 10, 8),
      corpus("abcd", 15, 10),
      corpus("a", 4, 5),       // unary: pure repeated-run merges
      Seq("ab ab ab ab ccc ccc"), // stray separator + runs
      corpus("xyz", 12, 7))
    cases.zipWithIndex.foreach { case (docs, ci) =>
      val got = bpeRows(docs).toSeq
      val want = refBpeMerges(docs, operators.TextOps.BpeRounds)
      assert(got == want, s"case $ci: engine $got vs reference $want")
    }
  }

  test("bpe: exhausted pairs keep the vocab; q97 still segments (reviewed bug)") {
    import spark.implicits._
    // vocabulary {"ab"}: round 1 merges (a,b) and every word is one
    // symbol — rounds 2..4 have NO pairs. The merge report ends early
    // (1 row); the APPLY half must still emit one row per doc with the
    // round-1 segmentation, not wipe the vocab and return nothing.
    val docs = Seq("ab ab ab", "ab")
    val merges = bpeRows(docs)
    assert(merges.toSeq == Seq((1, "a", "b", "ab", 4L)), merges.toSeq.toString)
    val seg = operators.TextOps.bpeSegmentOf(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
          .select(col("doc_id"), graft.functions.TextFns.toks(col("text")).as("t")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    graft.TransientCache.drain()
    // doc 0: 3 tokens, each "ab" one merged symbol; doc 1: 1 token
    assert(seg.toSeq == Seq((0L, 3L, 3L), (1L, 1L, 1L)),
      s"degenerate corpus must keep segmenting: ${seg.toSeq}")
  }

  test("bpe deep relational walk: 64 checkpointed rounds match the reference trainer") {
    def rowsOfDf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    // 64 rounds over a randomized small-alphabet corpus (maximal tie
    // pressure) — the relational chain must walk the reference's merge
    // path far past the unrolled demonstration depth (through the
    // bpeDeepRound checkpoint cadence), including whichever round the
    // pair table exhausts at. The alphabet is ASCII, so the reference's
    // UTF-16 tie order equals Spark's UTF-8 binary order.
    val rnd = new scala.util.Random(11L)
    val lexicon = Vector.fill(30)(
      (1 to (1 + rnd.nextInt(6))).map(_ => "abc"(rnd.nextInt(3))).mkString)
    val docs = Seq.fill(12)(
      (1 to (5 + rnd.nextInt(20))).map(_ => lexicon(rnd.nextInt(lexicon.length)))
        .mkString(" "))
    // the deep relational walk's per-job plan-description strings are
    // QUADRATIC in the chained depth (AQE regenerates the tree string
    // per stage) — cap them for the walk
    val prevLen = spark.conf.get("spark.sql.maxPlanStringLength", "2147483632")
    val rel64 = try {
      spark.conf.set("spark.sql.maxPlanStringLength", "1024")
      rowsOfDf(operators.TextOps.bpeMergesOf(tokFrame(docs), rounds = 64))
    } finally spark.conf.set("spark.sql.maxPlanStringLength", prevLen)
    graft.TransientCache.drain()
    val ref64 = refBpeMerges(docs, 64)
    assert(rel64 == ref64,
      s"64-round divergence: relational ${rel64.take(8)}... vs reference ${ref64.take(8)}...")
    // the deep walk must genuinely pass the demonstration depth
    assert(rel64.length > operators.TextOps.BpeRounds,
      "the 64-round corpus exhausted before round 5 — raise the lexicon size")
  }

  test("bpe merges matches the fixture oracle counts, all integers") {
    val got = operators.TextOps.bpeMerges(spark, dir).collect()
    graft.TransientCache.drain()
    assert(got.length == operators.TextOps.BpeRounds)
    assert(got.map(_.getInt(0)).toSeq == (1 to operators.TextOps.BpeRounds))
    // counts strictly positive and the merged column is the concat
    got.foreach { r =>
      assert(r.getLong(4) > 0)
      assert(r.getString(3) == r.getString(1) + r.getString(2))
    }
  }

  test("bpe merges: the fixture corpus walks the reference trainer's merge path") {
    // the q95 shape end to end: the fixture's texts through the
    // engine's reader and tokenizer, against the plain-Scala reference.
    // The fixture is ASCII, so the reference's UTF-16 tie order equals
    // Spark's UTF-8 binary order.
    val texts = Tables.documents(spark, dir).select(col("text")).collect()
      .map(_.getString(0)).toSeq
    assert(texts.forall(_.forall(_ < 128)), "fixture text must stay ASCII")
    val got = operators.TextOps.bpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    graft.TransientCache.drain()
    assert(got == refBpeMerges(texts, operators.TextOps.BpeRounds))
  }

  private def driftRows(rows: Seq[(String, String)]) = {
    import spark.implicits._
    val out = operators.TextOps.sourceDriftOf(rows.toDF("source", "text"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    graft.TransientCache.drain()
    out
  }

  test("source drift: identical distributions read exactly 0.0") {
    val got = driftRows(Seq(
      "s1" -> "x y z x", "s2" -> "x y z x", "s3" -> "x x y z"))
    assert(got.map(_._1).toSeq == Seq("s1", "s2", "s3"))
    // every source's distribution equals the corpus distribution, and
    // the arithmetic is exact integers -> drift is EXACTLY zero
    assert(got.forall(_._2 == 0.0), got.mkString(","))
    assert(got.forall(_._3 == 4L))
  }

  test("source drift: disjoint-vocabulary halves read exactly 1.0") {
    // Two equal-sized sources with disjoint vocabularies: D_in =
    // N_s(N - N_s), the missing mass adds (N - N_s)N_s, so
    // l1 = 2 N_s (N - N_s) / (N_s N) = 1.0 exactly at N_s = N/2.
    val got = driftRows(Seq("s1" -> "a b c d", "s2" -> "e f g h"))
    assert(got.forall(_._2 == 1.0), got.mkString(","))
  }

  test("source drift: the missing-token remainder term is priced") {
    // s2 shares nothing with s1 and is 1/4 of the corpus: for s2,
    // D = sum|c_s N - c N_s| over own vocab + (N - cov) N_s
    //   = 1*(4-1)*... computed by hand below and checked bit-exact.
    val rows = Seq("s1" -> "a a a", "s2" -> "b")
    val got = driftRows(rows).map(r => r._1 -> r._2).toMap
    // N=4. s1: Ns=3, own |3*4 - 3*3| = 3, remainder (4-3)*3 = 3,
    //   D=6, l1 = 6/12 = 0.5. s2: Ns=1, own |1*4 - 1*1| = 3,
    //   remainder (4-1)*1 = 3, D=6, l1 = 6/4 = 1.5.
    assert(got("s1") == 0.5 && got("s2") == 1.5, got.toString)
  }

  test("source overlap: the df guard drops universal phrasing; counts are exact") {
    import spark.implicits._
    // three sources; the phrase "a b c" is in ALL three (universal), the
    // phrase "x y z" is shared by exactly s1+s2, "p q r" is s3-private
    val docs = Seq(
      (1L, "s1", "a b c x y z"),
      (2L, "s2", "a b c x y z"),
      (3L, "s3", "a b c p q r")).toDF("doc_id", "source", "text")
    // cap 2: the universal 3-source shingles are dropped; (s1, s2) keep
    // their 4 shared shingles from "a b c x y z" minus the 3-source ones.
    // Shingle walk of "a b c x y z": [abc, bcx, cxy, xyz]; abc is in all
    // three docs (df 3, dropped); bcx/cxy/xyz are s1+s2 only (df 2, kept).
    // s3's [abc, bcp, cpq, pqr]: abc dropped, rest private (no pairs).
    val got = operators.Dedup.sourceOverlapOf(docs, cap = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    graft.TransientCache.drain()
    assert(got.toSeq == Seq(("s1", "s2", 3L, 1.0)),
      s"expected the single guarded pair, got ${got.toSeq}")
    // cap 3 re-admits the universal shingle: every pair now shares it
    val got3 = operators.Dedup.sourceOverlapOf(docs, cap = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    graft.TransientCache.drain()
    assert(got3 == Seq(("s1", "s2", 4L), ("s1", "s3", 1L), ("s2", "s3", 1L)),
      s"cap 3 matrix wrong: $got3")
  }

  test("source drift is bounded by 2 and monotone in separation") {
    val got = operators.TextOps.sourceDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    graft.TransientCache.drain()
    assert(got.nonEmpty)
    assert(got.forall(r => r._2 >= 0.0 && r._2 <= 2.0))
    assert(got.forall(_._3 > 0))
  }
}
