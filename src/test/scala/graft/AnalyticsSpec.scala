package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._

/** OLAP-surface operators: rank-quantile correctness against direct array
  * indexing, rollup level consistency, pivot row/column totals.
  */
class AnalyticsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("rank-based quantiles equal direct sorted-array indexing per group") {
    val got = Analytics.tokenQuantiles(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val counts = Tables.documents(spark, dir)
      .select(col("lang"),
        size(graft.functions.TextFns.toks(col("text"))).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    for ((lang, vals) <- counts) {
      def q(p: Double) = vals(math.floor((vals.size - 1) * p).toInt)
      assert(got(lang) == ((q(0.5), q(0.9), q(0.99))), s"lang=$lang")
    }
  }

  test("rollup levels are mutually consistent") {
    val rows = Analytics.langSourceRollup(spark, dir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    val leaf = rows.filter(r => r._1.isDefined && r._2.isDefined)
    val langTot = rows.filter(r => r._1.isDefined && r._2.isEmpty)
    val grand = rows.filter(r => r._1.isEmpty && r._2.isEmpty)
    assert(grand.length == 1)
    assert(grand.head._3 == leaf.map(_._3).sum)
    assert(grand.head._4 == leaf.map(_._4).sum)
    for ((Some(lang), None, n, chars) <- langTot) {
      val l = leaf.filter(_._1.contains(lang))
      assert(n == l.map(_._3).sum && chars == l.map(_._4).sum, s"lang=$lang")
    }
  }

  test("cube contains the rollup and its slices are mutually consistent") {
    val cube = Analytics.langSourceCube(spark, dir).collect()
      .map(r => ((Option(r.get(0)), Option(r.get(1)), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    val detail = cube.filter(_._1._3 == 0L)
    // grand total (gid=3) == sum of all detail cells
    val grand = cube(((None, None, 3L)))
    assert(grand._1 == detail.values.map(_._1).sum)
    assert(grand._2 == detail.values.map(_._2).sum)
    // the source-marginal slice (gid=1) aggregates detail rows per lang
    val perLang = detail.groupBy(_._1._1)
      .map { case (l, m) => l -> ((m.values.map(_._1).sum, m.values.map(_._2).sum)) }
    perLang.foreach { case (l, want) =>
      assert(cube(((l, None, 1L))) == want, s"lang $l")
    }
  }

  test("pivot cells sum to the total event count") {
    val rows = Analytics.eventTypePivot(spark, dir).collect()
    val cells = rows.map(r => (1 to 5).map(r.getLong(_)).sum).sum
    val total = Tables.events(spark, dir).count()
    assert(cells == total)
  }

  test("linear interpolation: observed rows verbatim, gaps linear, edges flat") {
    val sql = spark.sqlContext
    import sql.implicits._
    // observations on days 3, 6, 7, 12 of a 1..15 calendar padded by a
    // second store (fixes the calendar span and exercises edge extension)
    def d(day: Int) = java.sql.Date.valueOf(f"2025-06-$day%02d")
    val sparse = Seq(
      (1, d(3), 30L), (1, d(6), 90L), (1, d(7), 10L), (1, d(12), 60L),
      (2, d(1), 5L), (2, d(15), 5L)
    ).toDF("tienda_id", "dia", "net")
    val rows = Analytics.interpolateFrom(sparse)
      .filter(col("tienda_id") === 1).orderBy(col("dia"))
      .collect().map(r => (r.getTimestamp(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == 15)
    assert(rows.exists(!_._3), "no gap days — spec would be vacuous")
    val obs = rows.zipWithIndex.filter(_._1._3).map(_._2)
    // before the first / after the last observation: flat extension
    rows.take(obs.head).foreach { case (_, v, _) => assert(v == rows(obs.head)._2) }
    rows.drop(obs.last + 1).foreach { case (_, v, _) => assert(v == rows(obs.last)._2) }
    // inside each gap the values are linear between the bracketing points
    obs.toSeq.sliding(2).filter(_.length == 2).foreach { case Seq(i, j) =>
      val (vi, vj) = (rows(i)._2, rows(j)._2)
      (i + 1 until j).foreach { k =>
        val want = vi + (vj - vi) * ((k - i).toDouble / (j - i).toDouble)
        assert(math.abs(rows(k)._2 - want) < 1e-9, s"gap row $k")
      }
    }
  }

  /** Linear interpolation between the order statistics around
    * (n - 1) * p of an ascending sample.
    */
  private def refCont(sorted: IndexedSeq[Long], p: Double): Double = {
    val pos = (sorted.size - 1) * p
    val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(b), 1.0)

  /** A documents table holding only the columns the length tiers read. */
  private def lengthDocsDir(rows: Seq[(Long, String, java.lang.Long)]): String = {
    val sql = spark.sqlContext
    import sql.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-len-docs").toString
    rows.toDF("doc_id", "lang", "n_chars")
      .select(col("doc_id"), lit("x").as("text"), col("lang"), lit("src00").as("source"),
        col("n_chars"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("continuous quantiles equal a driver-side linear interpolation per group") {
    val got = Analytics.tokenQuantilesCont(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val byLang = Tables.documents(spark, dir).select(col("lang"), col("n_chars")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
      .map { case (l, rs) => l -> rs.map(_._2).sorted.toIndexedSeq }
    assert(got.keySet == byLang.keySet && got.size > 1)
    for ((lang, vals) <- byLang) {
      val (p50, p90, p99, n) = got(lang)
      assert(n == vals.size)
      assert(close(p50, refCont(vals, 0.5)) && close(p90, refCont(vals, 0.9)) &&
        close(p99, refCont(vals, 0.99)), s"lang=$lang: ${got(lang)}")
    }
  }

  test("continuous quantiles skip null lengths, count every doc and keep a null-lang group") {
    val d = lengthDocsDir(Seq[(Long, String, java.lang.Long)](
      (1L, "en", 10L), (2L, "en", null), (3L, "en", 30L), (4L, "en", 20L),
      (5L, null, 7L), (6L, null, 9L), (7L, "es", null)))
    val got = Analytics.tokenQuantilesCont(spark, d).collect()
      .map(r => (Option(r.getString(0)), Option(r.get(1)), r.getLong(4))).toSeq
    assert(got.map(_._1) == Seq(None, Some("en"), Some("es")), "null lang sorts first")
    assert(got.map(_._3) == Seq(2L, 4L, 1L), "n_docs counts null-length docs")
    assert(got(0)._2.contains(8.0) && got(1)._2.contains(20.0))
    assert(got(2)._2.isEmpty, "an all-null group has no quantile")
  }

  test("char histogram leaves null lengths out of every bin, bounds from the rest") {
    val lens = Seq(5L, 6L, 9L, 14L, 20L, 25L, 33L, 40L, 41L, 50L)
    val d = lengthDocsDir(lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, "en", java.lang.Long.valueOf(n)) } ++
      Seq[(Long, String, java.lang.Long)]((100L, "en", null), (101L, "es", null)))
    val got = Analytics.charHistogram(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // width = (hi - lo + 1) / 10 over the non-null lengths only
    val width = (50 - 5 + 1) / 10.0
    val want = lens.groupBy(n => math.min(math.floor((n - 5) / width).toLong, 9L))
      .toSeq.sortBy(_._1).map { case (b, ns) => (b, ns.size.toLong, ns.min, ns.max) }
    assert(got == want)
    assert(got.map(_._2).sum == lens.size)
  }

  test("rolling mean window is correct at series edges") {
    val rows = Analytics.rollingDailyNet(spark, dir)
      .filter(col("tienda_id") === 0).orderBy(col("dia"))
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    // day k (0-based) averages over min(k+1, 7) trailing days
    rows.zipWithIndex.foreach { case ((_, ma), k) =>
      val frame = rows.slice(math.max(0, k - 6), k + 1).map(_._1)
      assert(ma == frame.sum.toDouble / frame.length, s"day $k")
    }
  }

  // ----------------------------------------------- q93 length fit

  test("basket lift: full top-k recomputed from an independent driver-side basket scan") {
    val got = Analytics.basketLift(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    TransientCache.drain()
    assert(got.length == Analytics.BasketK)
    assert(got.forall(p => p._1 < p._2), "pairs canonical")
    assert(got.forall(_._3 >= Analytics.BasketMinSupport), "support floor")
    // independent reference: collect the raw lines, build baskets, count
    // pairs and singles, same single division, same total order
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = lines.groupBy(_._1).map { case (_, ls) => ls.map(_._2).distinct.sorted }
    val nOrders = baskets.size.toLong
    val single = scala.collection.mutable.Map.empty[Long, Long]
    val pair = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (b <- baskets) {
      b.foreach(p => single(p) = single.getOrElse(p, 0L) + 1)
      for (i <- b.indices; j <- (i + 1) until b.size) {
        val k = (b(i), b(j)); pair(k) = pair.getOrElse(k, 0L) + 1
      }
    }
    val expect = pair.toSeq.filter(_._2 >= Analytics.BasketMinSupport)
      .map { case ((a, b), nab) =>
        (a, b, nab, single(a), single(b),
          (nab * nOrders).toDouble / (single(a) * single(b)).toDouble) }
      .sortBy { case (a, b, _, _, _, lift) => (-lift, a, b) }
      .take(Analytics.BasketK)
    assert(got == expect, s"engine top-k != driver reference:\n$got\nvs\n$expect")
  }

  test("basket lift: forced-low sub-block cap binds AND stays exact (the live mega-basket guard)") {
    // cap = 2 forces every fixture basket past the cap: the grid path
    // (multi-cell block-pair enumeration) actually executes, and must
    // produce the default-cap output bit-for-bit — the guard trades
    // nothing, unlike q73's recall cap
    val dflt = Analytics.basketLift(spark, dir).collect().map(_.mkString("|")).toSeq
    TransientCache.drain()
    val capped = Analytics.basketLiftOf(spark, dir, cap = 2).collect()
      .map(_.mkString("|")).toSeq
    TransientCache.drain()
    assert(capped == dflt, "gridded enumeration must be exact")
    // the bound binds: under cap=2 a 5-line basket grids into
    // ceil(5/2) = 3 blocks — assert the block assignment engages for
    // every over-cap basket (structural, not data luck)
    val nb = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .groupBy(col("o")).agg(count(lit(1)).as("lines"))
      .filter(col("lines") > 2)
    assert(nb.count() > 0, "non-vacuous: some basket must exceed the forced cap")
  }

  test("length fit recovers an exact integer line exactly") {
    import spark.implicits._
    // y = 7x + 3 on x = 1..5 (token counts), all points exactly on the
    // line: the integer power-sum algebra makes num/den a ratio of exact
    // integers, so slope and intercept come out as EXACT doubles
    val docs = (1 to 5).map { x =>
      ("en", "s0", Seq.fill(x)("tok").mkString(" "), 7L * x + 3)
    }.toDF("lang", "source", "text", "n_chars")
    val got = Analytics.lengthFitOf(docs).collect()
    assert(got.length == 1)
    assert(got.head.getLong(2) == 5)
    assert(got.head.getDouble(3) == 7.0, "slope must be exactly 7.0")
    assert(got.head.getDouble(4) == 3.0, "intercept must be exactly 3.0")
  }

  test("length fit: zero x-variance group yields NULL, not Inf/NaN") {
    import spark.implicits._
    val docs = Seq(
      ("en", "s0", "a b", 10L), ("en", "s0", "c d", 20L),
      ("de", "s1", "a b", 10L), ("de", "s1", "c d e", 20L))
      .toDF("lang", "source", "text", "n_chars")
    val got = Analytics.lengthFitOf(docs).collect()
      .map(r => r.getString(0) -> ((r.isNullAt(3), r.isNullAt(4)))).toMap
    assert(got("en") == ((true, true)), "constant x => NULL slope/intercept")
    assert(got("de") == ((false, false)))
  }

  test("length fit matches a driver-side double least squares to 1e-9") {
    val got = Analytics.lengthFit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val pts = Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(graft.functions.TextFns.toks(col("text"))).cast("long").as("x"),
        col("n_chars").as("y"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2).toDouble, r.getLong(3).toDouble))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.keySet == pts.keySet)
    for ((k, xy) <- pts) {
      val n = xy.length
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val den = n * sxx - sx * sx
      val (gn, gs, gi) = got(k)
      assert(gn == n, s"$k n")
      if (den == 0) {
        assert(gs.isEmpty && gi.isEmpty, s"$k: zero variance must be NULL")
      } else {
        val slope = (n * sxy - sx * sy) / den
        val icept = (sy - slope * sx) / n
        assert(math.abs(gs.get - slope) <= 1e-9 * math.max(1.0, math.abs(slope)),
          s"$k slope ${gs.get} vs $slope")
        assert(math.abs(gi.get - icept) <= 1e-9 * math.max(1.0, math.abs(icept)),
          s"$k intercept ${gi.get} vs $icept")
      }
    }
  }

  test("rfm: quintile cuts by integer rank arithmetic; scores match a driver recompute") {
    val sql = spark.sqlContext
    import sql.implicits._
    // 10 customers, distinct metric profiles: customer i places i+1
    // orders of 100.00 each on consecutive days ending day0+i — so
    // r = 9−i, f = i+1, m = 100·(i+1): r strictly descending in i, f/m
    // strictly ascending, every quintile has exactly two customers
    val day0 = 19700L
    val rows = for {
      i <- 0 until 10
      j <- 0 to i
    } yield (100L + i, new java.sql.Timestamp((day0 + i - j) * 86400 * 1000L), 100.0)
    val orders = rows.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = graft.operators.Analytics.rfmOf(orders)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    TransientCache.drain()
    // driver recompute: n=10 → cuts at ranks (2n+9)/10=2, 4, 6, 8;
    // ascending f values 1..10 → boundaries f=(2,4,6,8); score =
    // 1 + #boundaries strictly beaten
    for (i <- 0 until 10) {
      val f = i + 1
      val fScore = 1L + Seq(2, 4, 6, 8).count(f > _)
      val r = 9 - i
      val rBounds = Seq(2, 4, 6, 8).map(k => k - 1) // sorted r = 0..9
      val rScore = 1L + rBounds.count(r < _)
      val want = (rScore, fScore, fScore, rScore * 100 + fScore * 10 + fScore)
      assert(got(100L + i) == want, s"cust ${100 + i}: ${got(100L + i)} vs $want")
    }
    // the integer cut IS ceil(p·n) by definition — the smallest k with
    // k ≥ t·n/10 — for every quintile at any n; both engines evaluate
    // it float-free (bare 0.2 parses DECIMAL in DuckDB, DOUBLE in
    // Spark expr — the banned constant class)
    for (n <- 1 to 10000; t <- Seq(2, 4, 6, 8)) {
      val k = (t * n + 9) / 10
      assert(10 * k >= t * n && 10 * (k - 1) < t * n, s"n=$n t=$t k=$k")
    }
  }

  test("rfm: a range-stretching whale forces the level-2 sub-bucket guard and stays exact") {
    val sql = spark.sqlContext
    import sql.implicits._
    // 400 customers with DISTINCT monetary values packed into [1, 400]
    // dollars, plus one whale at 10^9 dollars: the whale stretches the
    // monetary range so ALL non-whale values land in level-1 bucket 0
    // (400/10^9 of the range << 1/1024) with NO tie collapse available
    // (every value distinct) — the exact case the level-2 grid exists
    // for. Level 2 splits bucket 0 into 1024 sub-cells of ~977k dollars
    // ... still one sub-cell for [1,400]; the guard's bound is 1/1024²
    // of the range = ~954 dollars, so the dense cluster spans ~1
    // sub-cell — the cumsum partition is the cluster, not the corpus,
    // and a production third level would recurse (documented). What
    // MUST hold regardless: the cuts are exact.
    val day0 = 19700L
    val rows = (0 until 400).map(i =>
      (3000L + i, new java.sql.Timestamp((day0 + i % 50) * 86400 * 1000L),
        (i + 1).toDouble)) :+
      (3999L, new java.sql.Timestamp(day0 * 86400 * 1000L), 1.0e9)
    val got = graft.operators.Analytics.rfmOf(
        rows.toDF("o_custkey", "o_orderdate", "o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getLong(6)).toMap
    TransientCache.drain()
    // driver recompute of the monetary quintile cuts over the 401
    // distinct cents values
    val mc = rows.map(r => r._1 -> math.round(r._3 * 100)).toMap
    val n = mc.size
    val sorted = mc.values.toSeq.sorted
    val cuts = Seq(2, 4, 6, 8).map(t => sorted((t * n + 9) / 10 - 1))
    for ((c, v) <- mc) {
      val want = 1L + cuts.count(v > _)
      assert(got(c) == want, s"cust $c m_score: ${got(c)} vs $want")
    }
  }

  test("rfm: a FRACTAL double-stretch (sub-whale inside the whale bucket) stays exact; the residual bound is machine-measured") {
    val sql = spark.sqlContext
    import sql.implicits._
    // the documented level-3 residual, constructed: the 10^9-dollar
    // whale stretches the monetary range so the [1,400]-dollar cluster
    // AND a 5·10^5-dollar SUB-whale all land in level-1 bucket 0; the
    // sub-whale then stretches bucket 0's level-2 split so the cluster
    // collapses into ONE 1024²-grid sub-cell (width ≈ range/1024² ≈
    // 954 dollars ≫ the 400-dollar cluster span). The engine's
    // correctness contract must hold anyway — the final cumsum window
    // is EXACT at any partition size; only its SIZE degrades, and that
    // bound is asserted below (= the cluster's distinct count, the
    // quantity a level-3 recursion would shrink)
    val day0 = 19700L
    val rows = (0 until 400).map(i =>
      (5000L + i, new java.sql.Timestamp((day0 + i % 50) * 86400 * 1000L),
        (i + 1).toDouble)) :+
      (5998L, new java.sql.Timestamp(day0 * 86400 * 1000L), 5.0e5) :+
      (5999L, new java.sql.Timestamp(day0 * 86400 * 1000L), 1.0e9)
    val got = graft.operators.Analytics.rfmOf(
        rows.toDF("o_custkey", "o_orderdate", "o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getLong(6)).toMap
    TransientCache.drain()
    // driver recompute of the monetary quintile cuts over the 402
    // distinct cents values — exactness first
    val mc = rows.map(r => r._1 -> math.round(r._3 * 100)).toMap
    val n = mc.size
    val sorted = mc.values.toSeq.sorted
    val cuts = Seq(2, 4, 6, 8).map(t => sorted((t * n + 9) / 10 - 1))
    for ((c, v) <- mc) {
      val want = 1L + cuts.count(v > _)
      assert(got(c) == want, s"cust $c m_score: ${got(c)} vs $want")
    }
    // now PROVE the fixture is the double-stretch it claims to be, and
    // measure the residual: replicate the engine's two bucket levels
    val b = graft.operators.Analytics.RfmBuckets.toLong
    val fine = b * b
    val (lo, hi) = (sorted.head, sorted.last)
    val w = (hi - lo + 1).toDouble
    def idx(v: Long) = math.min(b - 1, math.floor((v - lo).toDouble * b / w).toLong)
    def idx2(v: Long) = math.min(fine - 1, math.floor((v - lo).toDouble * fine / w).toLong)
    val cells = mc.values.toSeq.distinct.groupBy(v => (idx(v), idx2(v)))
    val cluster = cells((0L, 0L)).size
    assert(cluster == 400,
      s"fixture lost its double-stretch: cell (0,0) holds $cluster of 400")
    assert(idx(mc(5998L)) == 0L && idx2(mc(5998L)) > 0L,
      "sub-whale must stretch INSIDE level-1 bucket 0")
    // the machine-asserted residual bound: the largest final-window
    // partition equals the cluster's distinct count — window-safe here
    // and at any cluster that fits an executor; a THIRD level would
    // shrink exactly this number (documented contract at rankCutsOf)
    assert(cells.values.map(_.size).max == cluster,
      "the level-2 guard must confine the stretch to one sub-cell")
  }

  test("q116 grouped quantiles == q41's per-group sort, bit-for-bit; rank engine handles a giant tie-heavy group") {
    val dir = "/root/testdata/sf0.001"
    // the two formulations must agree exactly — q41 is the bounded-group
    // sort-window shape, q116 the unbounded rank-engine shape
    val a = graft.operators.Analytics.tokenQuantiles(spark, dir).collect().toSeq
    val b = graft.operators.Analytics.groupedQuantiles(spark, dir).collect().toSeq
    TransientCache.drain()
    assert(a == b, s"engine diverged from the sort formulation")
    assert(a.nonEmpty)
    // synthetic: one 20k-row group that is 90% a single tied value
    // (the tie-collapse case) next to a 10-row group — the cardinality
    // spread a per-group sort window serves poorly and this engine
    // exists for
    val sql = spark.sqlContext
    import sql.implicits._
    val rng = new scala.util.Random(42L)
    val big = (0 until 20000).map(i =>
      ("big", if (i < 18000) 7L else 100L + rng.nextInt(1000)))
    val small = (0 until 10).map(i => ("small", i.toLong))
    val vals = (big ++ small).toDF("g", "v")
    val got = graft.operators.Analytics.rankCutsBy(vals, "g",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99).map { case (nm, q) =>
        nm -> ((n: org.apache.spark.sql.Column) =>
          floor((n - 1) * lit(q)).cast("long") + lit(1L))
      }).collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    TransientCache.drain()
    def want(vs: Seq[Long]) = {
      val s = vs.sorted
      val n = vs.size
      def pick(q: Double) = s((math.floor((n - 1) * q) + 1).toInt - 1)
      (pick(0.5), pick(0.9), pick(0.99), n.toLong)
    }
    assert(got("big") == want(big.map(_._2)), s"big: ${got("big")}")
    assert(got("small") == want(small.map(_._2)), s"small: ${got("small")}")
  }

  test("rfm: tie-heavy randomized differential vs a naive driver quantile") {
    val sql = spark.sqlContext
    import sql.implicits._
    // the skew the two-tier build exists for: 60% of customers place
    // exactly ONE order, so the frequency tie class spans multiple
    // quintile boundaries (f2 = f4 = 1) and the tie-collapsed histogram
    // puts the whole class in one (bucket, value) row
    val rng = new scala.util.Random(111L)
    val day0 = 19700L
    val rows = for {
      i <- 0 until 200
      nOrd = if (i < 120) 1 else 1 + rng.nextInt(20)
      _ <- 0 until nOrd
    } yield (1000L + i, new java.sql.Timestamp((day0 + rng.nextInt(60)) * 86400 * 1000L),
      (1 + rng.nextInt(1000000)) / 100.0)
    val got = graft.operators.Analytics.rfmOf(
        rows.toDF("o_custkey", "o_orderdate", "o_totalprice"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    TransientCache.drain()
    // naive driver recompute: sort each metric, index the k-th smallest
    val byCust = rows.groupBy(_._1)
    val ld = byCust.view.mapValues(_.map(_._2.getTime / 86400000L).max).toMap
    val anchor = ld.values.max
    val r = ld.view.mapValues(anchor - _).toMap
    val f = byCust.view.mapValues(_.size.toLong).toMap
    val mc = byCust.view.mapValues(_.map(o => math.round(o._3 * 100)).sum).toMap
    val n = byCust.size
    def cuts(vs: Iterable[Long]) = {
      val s = vs.toSeq.sorted
      Seq(2, 4, 6, 8).map(t => s((t * n + 9) / 10 - 1))
    }
    val (rc, fc, mcc) = (cuts(r.values), cuts(f.values), cuts(mc.values))
    assert(fc.take(2) == Seq(1L, 1L), s"fixture lost its tie span: $fc")
    for (c <- byCust.keys) {
      val want = (1L + rc.count(r(c) < _), 1L + fc.count(f(c) > _),
        1L + mcc.count(mc(c) > _))
      assert(got(c) == want, s"cust $c: ${got(c)} vs $want")
    }
  }

  test("winsorized stats: engine clip equals a per-group sort + clip") {
    import graft.functions.TextFns.toks
    val vals = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = vals.groupBy(_._1).view.mapValues { rows =>
      val vs = rows.map(_._2).sorted
      val n = vs.length
      // the same IEEE double rank arithmetic as both engines
      def cut(q: Double) = vs(math.floor((n - 1) * q).toLong.toInt)
      val (p05, p95) = (cut(0.05), cut(0.95))
      val winSum = vs.map(v => math.max(p05, math.min(p95, v))).sum
      (n.toLong, p05, p95, winSum, winSum.toDouble / n.toDouble)
    }.toMap
    val got = Analytics.winsorizedStats(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    TransientCache.drain()
    assert(got.keySet == want.keySet)
    for ((s, w) <- want) assert(got(s) == w, s"source $s: ${got(s)} vs $w")
  }

  test("topk unbounded: equals q60's dense-rank window row for row") {
    val want = Analytics.topSkusWithTies(spark, dir).collect().toSeq
    val got = Analytics.topSkusUnbounded(spark, dir).collect().toSeq
    TransientCache.drain()
    assert(got.map(_.toSeq) == want.map(_.toSeq))
  }

  test("topk unbounded: tie spans and tiny groups match a driver dense-rank") {
    import spark.implicits._
    // store 1: ties AT and ABOVE the 3rd distinct value; store 2: two
    // distinct values (ranks n−1/n−2 clamp); store 3: one value
    val vol = Seq(
      (1L, 10L, 90L), (1L, 11L, 90L), (1L, 12L, 80L), (1L, 13L, 70L),
      (1L, 14L, 70L), (1L, 15L, 70L), (1L, 16L, 60L), (1L, 17L, 50L),
      (2L, 20L, 9L), (2L, 21L, 9L), (2L, 22L, 3L),
      (3L, 30L, 1L)).toDF("tienda_id", "art_id", "volume")
    val got = Analytics.topSkusUnboundedOf(vol).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    TransientCache.drain()
    val rows = Seq(
      (1L, 10L, 90L), (1L, 11L, 90L), (1L, 12L, 80L), (1L, 13L, 70L),
      (1L, 14L, 70L), (1L, 15L, 70L), (1L, 16L, 60L), (1L, 17L, 50L),
      (2L, 20L, 9L), (2L, 21L, 9L), (2L, 22L, 3L),
      (3L, 30L, 1L))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val distincts = rs.map(_._3).distinct.sorted(Ordering[Long].reverse)
      rs.flatMap { case (t, a, v) =>
        val rnk = distincts.indexOf(v) + 1L
        if (rnk <= 3) Some((t, a, v, rnk)) else None
      }
    }.sortBy(r => (r._1, r._4, r._2))
    assert(got.toSeq == want)
  }

  test("auto dispatch (q122): both branches bit-identical; bound picks the plan") {
    // bound = MaxValue forces the per-group sort (q41), bound = 0 the
    // rank engine (q116); the outputs must be indistinguishable
    val sorted = Analytics.groupedQuantilesAutoAt(spark, dir, Long.MaxValue)
    val engine = Analytics.groupedQuantilesAutoAt(spark, dir, 0L)
    assert(sorted.queryExecution.analyzed.toString.contains("row_number"),
      "bounded branch must be the q41 window formulation")
    assert(!engine.queryExecution.analyzed.toString.contains("row_number"),
      "unbounded branch must be the windowless rank engine")
    val a = sorted.collect().toSeq.map(_.toSeq)
    val b = engine.collect().toSeq.map(_.toSeq)
    TransientCache.drain()
    assert(a == b, "dispatch must never change an answer, only a plan")
    // the live default at fixture scale: every lang group is far below
    // the bound, so the production entry takes the sort branch
    val live = Analytics.groupedQuantilesAuto(spark, dir)
    assert(live.queryExecution.analyzed.toString.contains("row_number"))
    TransientCache.drain()
  }

  test("auto dispatch (q123): both branches bit-identical; bound picks the plan") {
    val sorted = Analytics.topSkusAutoAt(spark, dir, Long.MaxValue)
    val engine = Analytics.topSkusAutoAt(spark, dir, 0L)
    assert(sorted.queryExecution.analyzed.toString.contains("dense_rank"),
      "bounded branch must be the q60 dense-rank window")
    assert(!engine.queryExecution.analyzed.toString.contains("dense_rank"),
      "unbounded branch must be the windowless rank engine")
    val a = sorted.collect().toSeq.map(_.toSeq)
    val b = engine.collect().toSeq.map(_.toSeq)
    TransientCache.drain()
    assert(a == b, "dispatch must never change an answer, only a plan")
    val live = Analytics.topSkusAuto(spark, dir)
    assert(live.queryExecution.analyzed.toString.contains("dense_rank"))
    TransientCache.drain()
  }

  test("auto dispatch: the stats scalar is memoized — repeated calls, one stats job each") {
    // the kmFitCount discipline for the dispatchers: the stats pass is a
    // full (column-pruned) corpus agg, so repeated dispatcher calls must
    // consult the memo, not rescan; eviction re-derives
    Analytics.clearDispatchMemo(spark)
    val before = Analytics.dispatchStatsCount.get()
    Analytics.groupedQuantilesAuto(spark, dir)
    Analytics.groupedQuantilesAuto(spark, dir) // memo hit
    Analytics.topSkusAuto(spark, dir)
    Analytics.topSkusAuto(spark, dir) // memo hit
    assert(Analytics.dispatchStatsCount.get() - before == 2,
      "two dispatchers x two calls must run exactly two stats jobs")
    // both-branch forcing shares the same scalar (the bound differs,
    // never the stat)
    Analytics.groupedQuantilesAutoAt(spark, dir, 0L)
    assert(Analytics.dispatchStatsCount.get() - before == 2)
    // eviction at the ingest boundary re-derives from the current corpus
    Analytics.clearDispatchMemo(spark)
    Analytics.groupedQuantilesAuto(spark, dir)
    assert(Analytics.dispatchStatsCount.get() - before == 3)
    TransientCache.drain()
  }
}
