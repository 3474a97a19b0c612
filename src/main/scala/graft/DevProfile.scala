package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Dev-only profiler: runs one named SparkEntry query (after a warmup pass
  * of the whole set so shared caches are in the state the bench sees),
  * printing its formatted physical plan first and then per-stage
  * wall/task times — `count()` probes lie because column pruning drops
  * expensive projections, so stage timing is the tool — and last the
  * generated classes the frame compiled, with their Janino and JIT time.
  *
  * Usage: DevProfile <queryName> [sfDir] [cpus]
  *
  * `cache:<tier>` profiles a shared-cache BUILD instead (cold caches,
  * documents read warmed) — e.g. `cache:winnow` times
  * `Dedup.winnowIndex(...).count()` with the same stage listener. The
  * driver-state fits (`kmfit`, `rqidx`, `bandidx`) have no single frame,
  * so they print no plan.
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC") // Tables.load NTZ seam
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val cacheFrames: Map[String, () => DataFrame] = Map(
      "winnow" -> (() => operators.Dedup.winnowIndex(spark, sfDir)),
      "shingle" -> (() => operators.Dedup.shingleIndex(spark, sfDir)),
      "cc" -> (() => operators.Graph.simhashComponents(spark, sfDir)),
      "legacy" -> (() => operators.Sales.legacyAggDecimal(spark, sfDir).cache()),
      "stock" -> (() => operators.Stock.stockPoints(spark, sfDir).cache()),
      "ledger" -> (() => operators.Ledger.unionLedger(spark, sfDir)))
    val cacheFits: Map[String, () => Unit] = Map(
      "kmfit" -> (() => operators.Similarity.kmeansCentroids(spark, sfDir)),
      "rqidx" -> (() => operators.QuantileIndex.retractedIndexAtRest(spark, sfDir)),
      "bandidx" -> (() => operators.Dedup.corpusIndex(spark, sfDir)))
    val tier = name.stripPrefix("cache:")

    // same warmup + preceding-query state as Bench (caches built by earlier
    // queries change what the profiled query actually executes); a failed
    // warm-up step is named on stderr, since it leaves a colder state
    def warm(what: String)(body: => Unit): Unit =
      try body
      catch { case NonFatal(e) =>
        System.err.println(s"profile warm-up: $what failed: ${e.toString.linesIterator.next()}")
      }
    warm("table events")(Tables.events(spark, sfDir).count(): Unit)
    if (!name.startsWith("cache:"))
      SparkEntry.queries.toSeq.sortBy(_._1).takeWhile(_._1 != name).foreach {
        case (q, fn) => warm(s"query $q")(fn(spark, sfDir).count(): Unit)
      }
    else // cache profile: warm the documents scan only
      warm("table documents")(spark.read.parquet(s"$sfDir/documents.parquet").count(): Unit)

    val stages = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val taskMs = si.taskMetrics.executorRunTime
        val det = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("DevProfile"))
          .getOrElse("").trim.take(80)
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(40) + " | " + det,
          wall, taskMs, si.numTasks))
      }
    })
    // JVM-wide code generation totals: generated classes compiled (the
    // count of Spark's `CodegenMetrics` compile-time histogram, cache hits
    // excluded), their Janino ns, and the JIT's total compilation ms; the
    // profile prints the delta over its frame
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def codegenTotals(): (Long, Long, Long) = (
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime,
      if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L)
    val (classes0, janinoNs0, jitMs0) = codegenTotals()
    val t0 = System.nanoTime()
    val nRows =
      if (name.startsWith("cache:") && cacheFits.contains(tier)) { cacheFits(tier)(); 0L }
      else {
        val df =
          if (name.startsWith("cache:")) cacheFrames(tier)()
          else SparkEntry.queries(name)(spark, sfDir)
        df.explain("formatted")
        df.count()
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val (classes1, janinoNs1, jitMs1) = codegenTotals()
    Thread.sleep(500) // let listener drain
    println(f"== $name: $nRows rows in $sec%.2f s ==")
    stages.sortBy(-_._3).foreach { case (id, nm, wall, task, nt) =>
      println(f"stage $id%4d wall=$wall%6d ms taskSum=$task%7d ms tasks=$nt%3d  $nm")
    }
    println(f"sum(stage wall) = ${stages.map(_._3).sum} ms over ${stages.size} stages")
    println(f"codegen: ${classes1 - classes0} classes compiled, " +
      f"Janino ${(janinoNs1 - janinoNs0) / 1e6}%.0f ms, JIT ${jitMs1 - jitMs0} ms")
    spark.stop()
  }
}
