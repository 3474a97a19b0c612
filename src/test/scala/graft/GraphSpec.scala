package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Connected components: known-graph cases + a randomized differential
  * against a driver-side union-find.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("components of chains, triangles and crossing edges") {
    // 1-2-3 chain, 4-5 pair, 10-11-12 triangle joined to the chain via 3-10
    val got = components(Seq(
      (1L, 2L), (2L, 3L), (4L, 5L), (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("a long path converges to one component (diameter stress)") {
    val got = components((1L to 40L).sliding(2).map(p => (p(1), p(0))).toSeq)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 40L).toSet)
  }

  test("components match a naive union-find on random graphs") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ =>
      ((rnd.nextInt(60) + 1).toLong, (rnd.nextInt(60) + 1).toLong))
      .filter(e => e._1 != e._2)

    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap

    assert(components(edges) == want)
  }

  test("triangle counts: hand graphs exact; oriented walk == naive triple scan on random graphs") {
    import spark.implicits._
    def counts(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("da", "db")
      val got = Graph.triangleCountsOf(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.TransientCache.drain()
      got
    }
    // K4: every vertex sits in C(3,2) = 3 of the 4 triangles
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(counts(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a star has wedges everywhere and no triangle — the exact shape an
    // unclosed wedge count would get wrong
    assert(counts(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))).isEmpty)
    // triangle + pendant edge: the pendant vertex stays out
    assert(counts(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // randomized differential vs a naive driver-side triple scan — the
    // orientation theorem (exactly one out-out wedge per triangle) is
    // what guarantees no double counting, so random graphs with heavy
    // degree ties are the adversarial case
    val rnd = new scala.util.Random(7L)
    (1 to 4).foreach { ci =>
      val n = 12 + ci * 3
      val edges = (for {
        a <- 1L to n.toLong
        b <- (a + 1) to n.toLong
        if rnd.nextInt(4) == 0
      } yield (a, b)).toSeq
      val eset = edges.toSet
      val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        a <- 1L to n.toLong
        b <- (a + 1) to n.toLong
        c <- (b + 1) to n.toLong
        if eset((a, b)) && eset((b, c)) && eset((a, c))
      } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
      assert(counts(edges) == naive.toMap, s"random case $ci diverged")
    }
  }

  // ------------------------------------------------------- PageRank

  private def sym(edges: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame =
    (edges ++ edges.map(_.swap)).toDF("src", "dst")

  private def ranks(edges: Seq[(Long, Long)], iters: Int = Graph.PrIters)
      : Map[Long, Double] = {
    val got = Graph.pageRank(sym(edges), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    graft.TransientCache.drain()
    got
  }

  test("pagerank: probability mass is conserved on a dangling-free graph") {
    // star (center 1) + a detached triangle
    val got = ranks(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    assert(got.size == 8)
  }

  test("pagerank: the star center outranks its leaves, leaves tie exactly") {
    // iters pinned: on a bipartite star the walk oscillates, so the
    // center/leaf gap depends on iteration parity
    val got = ranks(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)), iters = 3)
    assert(got(1L) > got(2L) * 2,
      "hub must clearly dominate a leaf on a 4-leaf star")
    // symmetric leaves run the identical fp ops => EXACTLY equal
    assert(Seq(got(3L), got(4L), got(5L)).forall(_ == got(2L)))
  }

  test("pagerank: a cycle stays uniform at 1/N") {
    val n = 6
    val got = ranks((1 to n).map(i => (i.toLong, (i % n + 1).toLong)))
    assert(got.size == n)
    // every node runs the identical fp ops => one distinct value
    assert(got.values.toSet.size == 1)
    assert(math.abs(got.values.head - 1.0 / n) < 1e-12)
  }

  test("pagerank: lineage truncation at large budgets is value-exact and bounds plan depth") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    def depth(p: LogicalPlan): Int =
      if (p.children.isEmpty) 1 else 1 + p.children.map(depth).max
    // two triangles joined by a bridge — 12 rounds genuinely mix ranks
    // across the bridge, so a value drift anywhere would surface
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)))
    // default cadence (5): checkpoints after rounds 5 and 10
    val trunc = Graph.pageRankImpl(edges, "src", "dst", 12,
      assumeDeduped = false)
    val tRows = trunc.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // cadence disabled: the single 12-deep unrolled DAG
    val flat = Graph.pageRankImpl(edges, "src", "dst", 12,
      assumeDeduped = false, checkpointEvery = Int.MaxValue)
    val fRows = flat.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // checkpointing materializes the same rows: BIT-exact, not approx
    assert(tRows == fRows,
      "lineage truncation must not change a single rank bit")
    // the truncated tree really is truncated: rooted in a checkpoint
    // RDD and materially shallower than the unrolled 12-round plan
    assert(trunc.queryExecution.optimizedPlan.collect {
      case _: LogicalRDD => 1 }.nonEmpty,
      "the truncated walk must be backed by a localCheckpoint")
    assert(depth(trunc.queryExecution.optimizedPlan) <
      depth(flat.queryExecution.optimizedPlan),
      "the cadence must bound plan depth below the unrolled DAG")
    graft.TransientCache.drain()
  }

  /** Driver-side power iteration in the engine's op order: seed 1.0 / n,
    * contribution pr(a) / outdeg(a), per-node left fold over in-neighbors
    * sorted by contributor id, then 0.15 / n + 0.85 * s. Every op is an
    * IEEE correctly-rounded double op, so the engine must match it
    * bit-for-bit, not approximately.
    */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val e = edges.distinct
    val outdeg = e.groupBy(_._1).map { case (a, es) => a -> es.size.toLong }
    val n = outdeg.size.toLong
    val inN = e.groupBy(_._2).map { case (b, es) => b -> es.map(_._1).sorted }
    var r = outdeg.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters)
      r = inN.map { case (b, as) =>
        b -> (0.15 / n + 0.85 * as.map(a => r(a) / outdeg(a)).reduceLeft(_ + _))
      }
    r
  }

  private def randomSymEdges(seed: Long, nodes: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val one = Seq.fill(m)(((rnd.nextInt(nodes) + 1).toLong, (rnd.nextInt(nodes) + 1).toLong))
    one ++ one.map(_.swap)
  }

  test("pagerank: q91 supplier-part ranks equal a driver-side power iteration bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val got = Graph.supplierPartRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    graft.TransientCache.drain()
    val base = graft.Tables.lineitem(spark, dir)
      .select(col("l_suppkey").cast("long"), col("l_partkey").cast("long"))
      .collect().map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1)).toSeq
    val want = refRanks(base ++ base.map(_.swap), Graph.PrIters).map { case (node, pr) =>
      (if (node % 2 == 0) "supplier" else "part", node >> 1) -> pr
    }
    assert(got.size == want.size && got.size > 100)
    val diff = want.filter { case (k, pr) => !got.get(k).contains(pr) }
    assert(diff.isEmpty, s"${diff.size} ranks differ, e.g. ${diff.take(3)}")
  }

  test("pagerank: random symmetric graphs equal the driver-side power iteration bit-for-bit") {
    for (seed <- 1L to 4L) {
      val edges = randomSymEdges(seed, nodes = 25, m = 60)
      val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      graft.TransientCache.drain()
      assert(got == refRanks(edges, Graph.PrIters), s"seed $seed")
    }
  }

  test("pagerank: a 12-round walk through the checkpoint cadence equals the driver-side iteration") {
    val edges = randomSymEdges(7L, nodes = 20, m = 45)
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    graft.TransientCache.drain()
    assert(12 > Graph.PrCheckpointEvery, "the walk must cross a checkpoint")
    assert(got == refRanks(edges, 12))
  }

  test("pagerank: duplicate edges are dropped before degrees are counted") {
    // a duplicated edge would double both the source's degree and its
    // contribution; the default path must rank the edge SET
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L), (2L, 1L))
    val once = ranks(edges)
    val thrice = Graph.pageRank(sym(edges ++ edges ++ edges), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    graft.TransientCache.drain()
    assert(thrice == once)
    assert(once == refRanks(edges ++ edges.map(_.swap), Graph.PrIters))
  }

  // ------------------------------------------------------ q110: k-core

  private def kcore(edges: Seq[(Long, Long)], k: Int,
                    rounds: Int = Graph.KCoreRounds): Map[Long, Long] = {
    val got = Graph.kCoreOf(edges.toDF("da", "db"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TransientCache.drain()
    got
  }

  test("k-core: out-of-contract k or budget fails fast (rounds=0 would mislabel raw degrees)") {
    val e = Seq((1L, 2L)).toDF("da", "db")
    intercept[IllegalArgumentException](Graph.kCoreOf(e, 0, 3))
    intercept[IllegalArgumentException](Graph.kCoreOf(e, 2, 0))
    intercept[IllegalArgumentException](Graph.kCoreOf(e, 2, -1))
  }

  test("k-core: K4 survives its own 3-core, pendants and rings do not") {
    // K4 on 1..4, a pendant 4-5, and a separate hexagon (all degree 2)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val hex = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (14L, 15L), (15L, 10L))
    val got = kcore(k4 ++ Seq((4L, 5L)) ++ hex, 3)
    // the pendant peels first, then nothing else can: K4 is 3-regular;
    // the hexagon is 2-regular so its 3-core is empty
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("k-core: the bounded budget is the contract — a capped peel stops mid-cascade") {
    // k=2 on a 9-node path: each round peels both current endpoints, so
    // the full fixpoint (empty) needs 4 peels; a budget of 2 must stop
    // with the 5-node middle segment intact — the same prefix the
    // oracle's unrolled chain computes at that depth
    val path = (1L to 8L).map(i => (i, i + 1))
    assert(kcore(path, 2).isEmpty, "a path has no 2-core")
    val capped = kcore(path, 2, rounds = 2)
    assert(capped == Map(3L -> 1L, 4L -> 2L, 5L -> 2L, 6L -> 2L, 7L -> 1L),
      capped.toString)
  }

  test("k-core: randomized differential against a driver-side peel") {
    val rnd = new scala.util.Random(12)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = (0 until 120).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val got = kcore(edges, 3)
      // driver peel to fixpoint (well under the 12-round budget at n=40)
      var alive = edges.toSet
      var stable = false
      while (!stable) {
        val deg = alive.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= 3).keySet
        val nxt = alive.filter(p => keep(p._1) && keep(p._2))
        stable = nxt.size == alive.size
        alive = nxt
      }
      val want = alive.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }
}
