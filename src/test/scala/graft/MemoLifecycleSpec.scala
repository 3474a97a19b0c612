package graft

import graft.pipelines.Warehouse
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._

/** Root lifecycle of every fixture at-rest index ([[FixtureRoots]]),
  * driven through the fixture queries: a query registers its root under
  * its tier, a second query re-opens that root without writing to it,
  * clear deletes it, a seed that throws or loses a build race leaves no
  * root behind, and the time-split fixtures keep their split day at the
  * root.
  */
class MemoLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def onDisk(root: String): Boolean = Files.exists(Paths.get(root))

  /** The root the registry holds for `tier`; fails if none was built. */
  private def rootOf(tier: String): String =
    FixtureRoots.root(spark, tier, dir)(_ => fail(s"$tier was not built"))

  /** Each fixture tier with the driver query that reads it. */
  private val tiers = Seq(
    "bandidx" -> "q74_delta_minhash",
    "winidx" -> "q88_delta_winnow",
    "rbandidx" -> "q127_retract_minhash",
    "annidx" -> "q89_delta_ann",
    "hllidx" -> "q109_delta_hll",
    "tqidx" -> "q119_delta_quantiles",
    "rqidx" -> "q126_retract_quantiles",
    "retidx" -> "q113_delta_retention",
    "rretidx" -> "q128_retract_retention",
    "tridx" -> "q115_delta_transitions")

  private def run(query: String): Long = {
    val n = SparkEntry.queries(query)(spark, dir).count()
    TransientCache.drain()
    n
  }

  /** Every table and checkpoint directly under `root`, with its listing
    * fingerprint.
    */
  private def fingerprints(root: String): Map[String, Long] = {
    val wh = new Warehouse(spark, root)
    val cps = Option(new java.io.File(s"$root/_checkpoints").list()).toSeq.flatten
      .map(c => s"_checkpoints/$c")
    (new java.io.File(root).list().toSeq.filter(_ != "_checkpoints") ++ cps)
      .map(t => t -> wh.fingerprint(t)).toMap
  }

  for ((tier, query) <- tiers) {
    test(s"$tier: clear deletes the root the memo built") {
      FixtureRoots.clear(spark)
      run(query)
      val built = rootOf(tier)
      assert(onDisk(built))
      run(query)
      assert(rootOf(tier) == built, "a second query must re-open the registered root")
      FixtureRoots.clear(spark)
      assert(!onDisk(built), s"$tier: clear left its built root $built on disk")
    }

    test(s"$tier: a second query reuses the root and leaves every table fingerprint unchanged") {
      FixtureRoots.clear(spark)
      val n = run(query)
      val root = rootOf(tier)
      val before = fingerprints(root)
      assert(before.nonEmpty, s"$tier: nothing at rest under $root")
      assert(run(query) == n)
      assert(rootOf(tier) == root)
      assert(fingerprints(root) == before, s"$tier: a query wrote under its fixture root")
      FixtureRoots.clear(spark)
    }
  }

  test("the retention and transitions split day reads back from the root in 0 Spark jobs") {
    FixtureRoots.clear(spark)
    val days = Tables.events(spark, dir)
      .select(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(min(col("day")), max(col("day"))).head()
    val want = days.getLong(0) + (days.getLong(1) - days.getLong(0)) * 4 / 5
    for ((tier, query) <- tiers if Set("retidx", "rretidx", "tridx")(tier)) {
      run(query)
      val wh = new Warehouse(spark, rootOf(tier))
      val (split, jobs) = org.apache.spark.SparkJobs.count(spark.sparkContext)(
        wh.checkpoint("split_day"))
      assert(split.contains(want) && jobs == 0, s"$tier: split $split in $jobs jobs")
    }
    FixtureRoots.clear(spark)
  }

  test("two concurrent builds of one key leave exactly one root on disk") {
    val bothBuilt = new CountDownLatch(2)
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // neither builder inserts before both have written their roots
    def seed(root: String): Unit = {
      roots.add(root)
      Files.write(Paths.get(root, "part"), Array[Byte](1))
      bothBuilt.countDown()
      assert(bothBuilt.await(60, TimeUnit.SECONDS))
    }
    val pool = Executors.newFixedThreadPool(2)
    val got = try {
      Seq.fill(2)(pool.submit(new Callable[String] {
        def call(): String = FixtureRoots.root(spark, "race", dir)(seed)
      })).map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(got.distinct.size == 1 && roots.size == 2)
    import scala.jdk.CollectionConverters._
    assert(roots.asScala.filter(onDisk).toSeq == got.take(1),
      "the losing builder must delete its own root")
    FixtureRoots.clear(spark)
    assert(!onDisk(got.head))
  }

  test("a seed that throws leaves no root and registers nothing") {
    var tried = ""
    intercept[IllegalStateException] {
      FixtureRoots.root(spark, "fail", dir) { root =>
        tried = root
        throw new IllegalStateException("build failed")
      }
    }
    assert(tried.nonEmpty && !onDisk(tried), "a failed build must delete its root")
    var reseeded = false
    val root = FixtureRoots.root(spark, "fail", dir)(_ => reseeded = true)
    assert(reseeded && root != tried, "the failed key must seed afresh")
    FixtureRoots.clear(spark)
  }
}
