package graft

import graft.operators.{Dedup, QuantileIndex, Sessions, Similarity, Sketch}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

/** Root lifecycle of every at-rest index memo, driven through each
  * operator's public seams: a root the memo built is deleted by clear
  * and by an install that shadows it, a caller root survives clear, and
  * two concurrent builds of one key leave exactly one root on disk.
  */
class MemoLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def onDisk(root: String): Boolean = Files.exists(Paths.get(root))

  /** One rooted memo: `build` returns the root the memo built, `install`
    * points the memo at a caller root (None: the memo has no install
    * seam).
    */
  private case class Seam(name: String, build: () => String,
                          install: Option[String => Unit], clear: () => Unit)

  private def none = spark.emptyDataFrame

  /** The HLL seam returns the register read, not its root: recover the
    * root from the read's files (`<root>/hll_regs/part-*`).
    */
  private def hllRoot(): String = {
    val f = new java.net.URI(Sketch.hllIndexAtRest(spark, dir).inputFiles.head).getPath
    f.substring(0, f.indexOf("/hll_regs/"))
  }

  private val seams = Seq(
    Seam("bandidx", () => Dedup.corpusIndex(spark, dir).root,
      Some(r => Dedup.installCorpusIndex(spark, dir,
        Dedup.CorpusIndex(none, none, none, r))),
      () => Dedup.clearCorpusIndex(spark)),
    Seam("winidx", () => Dedup.winnowIndexAtRest(spark, dir).root,
      Some(r => Dedup.installWinnowIndex(spark, dir, Dedup.WinnowIndex(none, none, r))),
      () => Dedup.clearWinnowIndexAtRest(spark)),
    Seam("rbandidx", () => Dedup.retractedCorpusIndex(spark, dir).root, None,
      () => Dedup.clearRetractedCorpusIndex(spark)),
    Seam("annidx", () => Similarity.annIndexAtRest(spark, dir).root,
      Some(r => Similarity.installAnnIndex(spark, dir, Similarity.AnnIndex(none, r))),
      () => Similarity.clearAnnIndex(spark)),
    Seam("hllidx", () => hllRoot(),
      Some(r => Sketch.installHllIndex(spark, dir, r)),
      () => Sketch.clearHllIndex(spark)),
    Seam("retidx", () => Sessions.retentionIndexAtRest(spark, dir)._1,
      Some(r => Sessions.installRetentionIndex(spark, dir, r, 0L)),
      () => Sessions.clearRetentionIndex(spark)),
    Seam("rretidx", () => Sessions.retractedRetentionIndexAtRest(spark, dir)._1, None,
      () => Sessions.clearRetractedRetentionIndex(spark)),
    Seam("tridx", () => Sessions.transitionsIndexAtRest(spark, dir)._1,
      Some(r => Sessions.installTransitionsIndex(spark, dir, r, 0L)),
      () => Sessions.clearTransitionsIndex(spark)),
    Seam("tqidx", () => QuantileIndex.indexAtRest(spark, dir),
      Some(r => QuantileIndex.installIndex(spark, dir, r)),
      () => QuantileIndex.clearIndex(spark)),
    Seam("rqidx", () => QuantileIndex.retractedIndexAtRest(spark, dir), None,
      () => QuantileIndex.clearRetractedIndex(spark)))

  for (s <- seams) {
    test(s"${s.name}: clear deletes the root the memo built") {
      s.clear()
      val built = s.build()
      TransientCache.drain()
      assert(onDisk(built))
      assert(s.build() == built, "a second call must hit the memo")
      s.clear()
      assert(!onDisk(built), s"${s.name}: clear left its built root $built on disk")
    }

    s.install.foreach { install =>
      test(s"${s.name}: install deletes the built root it shadows; a caller root survives clear") {
        s.clear()
        val built = s.build()
        TransientCache.drain()
        val caller = Files.createTempDirectory(s"graft_caller_${s.name}_").toString
        try {
          install(caller)
          assert(!onDisk(built),
            s"${s.name}: install left the shadowed built root $built on disk")
          s.clear()
          assert(onDisk(caller), s"${s.name}: clear deleted the caller root")
        } finally {
          s.clear()
          pipelines.Fs.delete(spark, caller)
        }
      }
    }
  }

  test("two concurrent getAt calls on one key leave exactly one root on disk") {
    val memo = new ContextMemo[String, String](identity)
    val bothBuilt = new CountDownLatch(2)
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // neither builder inserts before both have written their roots
    def build(root: String): String = {
      roots.add(root)
      Files.write(Paths.get(root, "part"), Array[Byte](1))
      bothBuilt.countDown()
      assert(bothBuilt.await(60, TimeUnit.SECONDS))
      root
    }
    val pool = Executors.newFixedThreadPool(2)
    val got = try {
      Seq.fill(2)(pool.submit(new Callable[String] {
        def call(): String = memo.getAt(spark, "k", "graft_memo_race_")(build)
      })).map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(got.distinct.size == 1 && roots.size == 2)
    import scala.jdk.CollectionConverters._
    assert(roots.asScala.filter(onDisk).toSeq == got.take(1),
      "the losing builder must delete its own root")
    memo.clear(spark)
    assert(!onDisk(got.head))
  }

  test("re-installing at the built root keeps it owned; a failed build leaves no root") {
    val memo = new ContextMemo[String, String](identity)
    val built = memo.getAt(spark, "k", "graft_memo_own_")(identity)
    // an append's refreshed value lives at the same root
    memo.install(spark, "k", built)
    assert(onDisk(built) && memo.peek(spark, "k").contains(built))
    memo.clear(spark)
    assert(!onDisk(built), "a re-installed built root must stay owned")

    var tried = ""
    intercept[IllegalStateException] {
      memo.getAt(spark, "k", "graft_memo_fail_") { root =>
        tried = root
        throw new IllegalStateException("build failed")
      }
    }
    assert(tried.nonEmpty && !onDisk(tried), "a failed build must delete its root")
    assert(memo.peek(spark, "k").isEmpty)
  }
}
