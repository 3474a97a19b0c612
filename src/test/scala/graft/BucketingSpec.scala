package graft

import java.nio.file.Files

import graft.pipelines.Warehouse
import org.apache.spark.sql.functions._

/** Partitioned tables must prune untouched partitions at planning time. */
class BucketingSpec extends SparkSpec {

  test("date-partitioned table prunes partitions at planning time") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-part").toString)
    val dir = "/root/testdata/sf0.001"
    val ledger = Tables.ledger(spark, dir)
      .withColumn("dia", to_date(col("fecha")))
    wh.writePartitioned("part_ledger", ledger, Seq("dia"))

    val oneDay = ledger.agg(min(col("dia"))).head().getDate(0).toString
    val read = wh.read("part_ledger").filter(col("dia") === oneDay)
    val scan = read.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString

    // the date predicate must land in PartitionFilters (planning-time
    // pruning), NOT in PushedFilters/DataFilters (per-row evaluation)
    assert(scanStr.contains("PartitionFilters") &&
      scanStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("dia"),
      s"expected dia in PartitionFilters:\n$scanStr")
    // and the scan must actually select fewer partition directories than
    // the table has (inputFiles ignores partition filters, so ask the
    // FileSourceScanExec itself)
    val fsScan = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val allParts = ledger.select(col("dia")).distinct().count()
    assert(fsScan.selectedPartitions.partitionCount == 1 && allParts > 1,
      s"expected 1 of $allParts partitions selected, " +
        s"got ${fsScan.selectedPartitions.partitionCount}")
    // correctness: matches the flat filter
    assert(read.count() === ledger.filter(col("dia") === oneDay).count())
  }

  test("a partitioned rewrite replaces the table through the swap: no old partition survives") {
    val root = Files.createTempDirectory("graft-part-rw").toString
    val wh = new Warehouse(spark, root)
    val ledger = Tables.ledger(spark, "/root/testdata/sf0.001")
      .withColumn("dia", to_date(col("fecha")))
    val days = ledger.select(col("dia")).distinct().orderBy(col("dia"))
      .collect().map(_.getDate(0).toString).toSeq
    assert(days.size >= 4)
    val (first, second) = days.splitAt(days.size / 2)
    wh.writePartitioned("part_rw", ledger.filter(col("dia").cast("string").isin(first: _*)), Seq("dia"))
    wh.writePartitioned("part_rw", ledger.filter(col("dia").cast("string").isin(second: _*)), Seq("dia"))
    val back = wh.read("part_rw")
    assert(back.select(col("dia")).distinct().collect().map(_.getDate(0).toString).sorted.toSeq
      == second)
    assert(back.count() == ledger.filter(col("dia").cast("string").isin(second: _*)).count())
    // the swap leaves only the committed table behind
    val left = new java.io.File(root).list().toSeq.filterNot(_.startsWith("."))
    assert(left == Seq("part_rw"), s"swap debris: $left")
  }
}
