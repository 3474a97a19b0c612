package graft

import java.nio.file.Files

import graft.operators.{Sales, Stock}
import graft.pipelines.{Fs, InventoryPipeline, SalesPipeline, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end nightly-cycle semantics: incremental seed+update must equal
  * a one-shot full rebuild, and re-running any update must be a no-op
  * (idempotence) — the reference's §2.9 guarantees.
  */
class PipelinesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft-wh").toString)

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("sales: seed + incremental update == full rebuild; re-run is a no-op") {
    val wh = freshWh()
    val full = Sales.waterfallClean(spark, dir)
    val midId = full.agg(expr("percentile_approx(ven_id, 0.5)")).first().getLong(0)

    val n1 = SalesPipeline.update(wh, dir, upToId = Some(midId)) // seed half
    val n2 = SalesPipeline.update(wh, dir) // catch up
    assert(n1 > 0 && n2 > 0)
    assert(rowsOf(wh.read("ventas_limpias")) == rowsOf(full))

    val n3 = SalesPipeline.update(wh, dir) // nothing new
    assert(n3 == 0)
    assert(rowsOf(wh.read("ventas_limpias")) == rowsOf(full))
  }

  test("sales: a source that grows in place is re-extracted in the same session") {
    val wh = freshWh()
    val src = Files.createTempDirectory("graft-src").toString
    val full = Sales.waterfallClean(spark, dir)
    val midId = full.agg(expr("percentile_approx(ven_id, 0.5)")).first().getLong(0)
    // the source is replaced outside Spark, as an external loader would
    // (a Spark write to the path would invalidate the session's caches)
    def cut(table: String, key: String, upTo: Option[Long]): Unit = {
      val t = spark.read.parquet(s"$dir/$table.parquet")
      val staged = Files.createTempDirectory("graft-stage").resolve(table)
      upTo.fold(t)(id => t.filter(col(key) <= id)).write.parquet(staged.toString)
      Fs.delete(spark, s"$src/$table.parquet")
      Files.move(staged, java.nio.file.Paths.get(s"$src/$table.parquet"))
    }

    cut("orders", "o_orderkey", Some(midId)); cut("lineitem", "l_orderkey", Some(midId))
    val n1 = SalesPipeline.update(wh, src)
    // the next night's source lands at the SAME path
    cut("orders", "o_orderkey", None); cut("lineitem", "l_orderkey", None)
    val n2 = SalesPipeline.update(wh, src)
    assert(n1 > 0 && n2 > 0, s"second night extracted $n2 rows")
    assert(rowsOf(wh.read("ventas_limpias")) == rowsOf(full))
  }

  test("sales: seed_new_store scopes to one store, leaves others untouched") {
    val wh = freshWh()
    val full = Sales.waterfallClean(spark, dir)
    def store(k: Int): DataFrame => DataFrame = _.filter(col("ven_id") % 3 === k)

    // warehouse already holds store0's history
    val n0 = SalesPipeline.seedNewStore(wh, dir, "store0", store(0))
    assert(n0 > 0)
    val store0Rows = rowsOf(wh.read("ventas_limpias"))

    // a new store seeds in two batches (the reference's batch_dates) —
    // resuming from ITS OWN per-store watermark
    val midId = full.agg(expr("percentile_approx(ven_id, 0.5)")).first().getLong(0)
    val n1a = SalesPipeline.seedNewStore(wh, dir, "store1", store(1), upToId = Some(midId))
    val n1b = SalesPipeline.seedNewStore(wh, dir, "store1", store(1))
    assert(n1a > 0 && n1b > 0)

    val merged = rowsOf(wh.read("ventas_limpias"))
    assert(merged == rowsOf(store(0)(full).unionByName(store(1)(full))))
    assert(store0Rows.subsetOf(merged)) // store0 untouched by store1's seed

    // idempotent re-run: nothing above store1's watermark
    assert(SalesPipeline.seedNewStore(wh, dir, "store1", store(1)) == 0)
    assert(rowsOf(wh.read("ventas_limpias")) == merged)
  }

  test("ledger: watermark append is exactly-once-effective") {
    val wh = freshWh()
    val fullLedger = Tables.ledger(spark, dir)
    val midTs = new java.sql.Timestamp(
      fullLedger.agg(expr("percentile_approx(unix_micros(fecha), 0.5)"))
        .first().getLong(0) / 1000)

    val n1 = InventoryPipeline.updateLedger(wh, dir, upToTs = Some(midTs))
    val n2 = InventoryPipeline.updateLedger(wh, dir)
    val n3 = InventoryPipeline.updateLedger(wh, dir)
    assert(n1 > 0 && n2 > 0 && n3 == 0)
    assert(wh.read("raw_stock_movements").count() == fullLedger.count())
    assert(rowsOf(wh.read("raw_stock_movements")) == rowsOf(fullLedger))

    // the same batches through the keyed-guard append: a missing table
    // takes every row, a replay appends none, an overlap only new keys
    val early = fullLedger.filter(col("fecha") <= midTs)
    val nEarly = early.count()
    assert(nEarly > 0 && nEarly < fullLedger.count(), "split precondition")
    wh.appendNew("ledger_keyed", early, Seq("id_origen"))
    assert(rowsOf(wh.read("ledger_keyed")) == rowsOf(early))
    wh.appendNew("ledger_keyed", early, Seq("id_origen"))
    assert(wh.read("ledger_keyed").count() == nEarly)
    wh.appendNew("ledger_keyed", fullLedger, Seq("id_origen"))
    assert(wh.read("ledger_keyed").count() == fullLedger.count())
    assert(rowsOf(wh.read("ledger_keyed")) == rowsOf(fullLedger))
  }

  test("stock points: as-of-seeded incremental replay == full rebuild (any split)") {
    val fullLedger = Tables.ledger(spark, dir)
    val expected = rowsOf(Stock.stockPointsFrom(fullLedger))
    def quantTs(q: Double): java.sql.Timestamp = new java.sql.Timestamp(
      fullLedger.agg(expr(s"percentile_approx(unix_micros(fecha), $q)"))
        .first().getLong(0) / 1000)

    // two-night cycles at different split points (incl. an early and a
    // late boundary), and a three-night chained cycle
    for (splits <- Seq(Seq(0.25), Seq(0.5), Seq(0.8), Seq(0.33, 0.66))) {
      val wh = freshWh()
      splits.foreach { q =>
        InventoryPipeline.updateLedger(wh, dir, upToTs = Some(quantTs(q)))
        assert(InventoryPipeline.refreshStockPoints(wh) >= 0)
      }
      InventoryPipeline.updateLedger(wh, dir)
      InventoryPipeline.refreshStockPoints(wh)
      assert(rowsOf(wh.read("stock_points")) == expected,
        s"incremental(${splits.mkString(",")}) must equal the full rebuild")

      // extra night with no new events — refresh must not change the table
      InventoryPipeline.refreshStockPoints(wh)
      assert(rowsOf(wh.read("stock_points")) == expected)
    }
  }

  test("stock points: deleting points_last_dt rebuilds the whole table; a no-op night leaves the checkpoint alone") {
    val wh = freshWh()
    InventoryPipeline.updateLedger(wh, dir)
    InventoryPipeline.refreshStockPoints(wh)
    val expected = rowsOf(Stock.stockPointsFrom(wh.read("raw_stock_movements")))
    assert(rowsOf(wh.read("stock_points")) == expected)

    // a stale point no replay from the checkpoint would touch
    val stale = wh.read("stock_points").limit(1)
      .withColumn("point_date", lit("1999-01-01").cast("timestamp"))
      .withColumn("sod_stock", lit(-42L)).localCheckpoint()
    wh.append("stock_points", stale)
    assert(wh.read("stock_points").filter(col("sod_stock") === -42L).count() == 1)

    Fs.delete(spark, s"${wh.root}/_checkpoints/points_last_dt")
    InventoryPipeline.refreshStockPoints(wh)
    assert(rowsOf(wh.read("stock_points")) == expected)

    def cpFiles(): Set[String] =
      Option(new java.io.File(s"${wh.root}/_checkpoints/points_last_dt").list())
        .map(_.toSet).getOrElse(Set.empty)
    val before = cpFiles()
    assert(before.nonEmpty)
    assert(InventoryPipeline.refreshStockPoints(wh) == 0)
    assert(cpFiles() == before, "a night that does not move the watermark must not rewrite it")
    assert(rowsOf(wh.read("stock_points")) == expected)
  }

  test("stock points: ledger rows whose watermark never advanced are still replayed") {
    val wh = freshWh()
    val fullLedger = Tables.ledger(spark, dir)
    val midTs = new java.sql.Timestamp(
      fullLedger.agg(expr("percentile_approx(unix_micros(fecha), 0.5)"))
        .first().getLong(0) / 1000)
    InventoryPipeline.updateLedger(wh, dir, upToTs = Some(midTs))
    InventoryPipeline.refreshStockPoints(wh)
    val cpTs = wh.checkpoint("ledger_last_ts")

    // a crash between the ledger append and its watermark advance: the
    // rows are in the table, `ledger_last_ts` does not show them
    wh.append("raw_stock_movements", fullLedger.filter(col("fecha") > midTs))
    assert(wh.checkpoint("ledger_last_ts") == cpTs)
    assert(InventoryPipeline.refreshStockPoints(wh) > 0)
    val expected = rowsOf(Stock.stockPointsFrom(fullLedger))
    assert(rowsOf(wh.read("stock_points")) == expected)

    // the recovery night lands nothing new, and its refresh is the no-op
    assert(InventoryPipeline.updateLedger(wh, dir) == 0)
    assert(InventoryPipeline.refreshStockPoints(wh) == 0)
    assert(rowsOf(wh.read("stock_points")) == expected)
  }

  test("stock points: an incremental refresh reads the ledger's last day off its own replay, in a pinned number of jobs") {
    val wh = freshWh()
    val sc = spark.sparkContext
    val fullLedger = Tables.ledger(spark, dir)
    val midTs = new java.sql.Timestamp(
      fullLedger.agg(expr("percentile_approx(unix_micros(fecha), 0.5)"))
        .first().getLong(0) / 1000)
    def lastDay(): Long = wh.read("raw_stock_movements")
      .agg(max(unix_date(to_date(col("fecha"))))).first().getInt(0).toLong
    InventoryPipeline.updateLedger(wh, dir, upToTs = Some(midTs))
    InventoryPipeline.refreshStockPoints(wh)
    assert(wh.checkpoint("points_last_dt").contains(lastDay()))
    InventoryPipeline.updateLedger(wh, dir)
    val (points, jobs) =
      org.apache.spark.SparkJobs.count(sc)(InventoryPipeline.refreshStockPoints(wh))
    assert(points > 0)
    // the commit (the range merge) and its adaptive stages: the points'
    // count and the ledger's last day ride it as observed metrics. A rise
    // means the refresh grew a pass back.
    val pinned = 5
    assert(jobs == pinned, s"an incremental refresh ran $jobs Spark jobs (pinned $pinned)")
    assert(wh.checkpoint("points_last_dt").contains(lastDay()),
      "the checkpoint must move to the ledger's last day")
    assert(rowsOf(wh.read("stock_points")) == rowsOf(Stock.stockPointsFrom(fullLedger)))
  }

  test("stock points: an incremental refresh is one commit: three windows, an aggregate seed, a ledger-only last-day bound, one replay") {
    import org.apache.spark.SparkExecutions.{capture, nodes}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val q13 = SparkEntry.queries("q13_stock_points")(spark, dir)
    q13.collect()
    val q13Windows = nodes(q13.queryExecution.executedPlan).count(_.isInstanceOf[WindowExec])
    assert(q13Windows == 3, s"q13 runs $q13Windows WindowExec (pinned 3)")

    val wh = freshWh()
    val fullLedger = Tables.ledger(spark, dir)
    val midTs = new java.sql.Timestamp(
      fullLedger.agg(expr("percentile_approx(unix_micros(fecha), 0.5)"))
        .first().getLong(0) / 1000)
    InventoryPipeline.updateLedger(wh, dir, upToTs = Some(midTs))
    InventoryPipeline.refreshStockPoints(wh)
    InventoryPipeline.updateLedger(wh, dir)
    val (points, plans) = capture(spark)(InventoryPipeline.refreshStockPoints(wh))
    assert(points > 0)
    assert(plans.size == 1, s"the refresh completed ${plans.size} queries; its commit is the one")
    val all = nodes(plans.head)
    // the replay feeds the commit once: a second copy would share its
    // exchanges, and adaptive execution can drop the copy that holds the
    // observed metrics
    assert(!all.exists(_.isInstanceOf[ReusedExchangeExec]), "the replay runs twice")
    assert(!all.exists(_.nodeName.contains("WindowGroupLimit")),
      "the as-of seed must be an aggregate, not a ranked window")
    def table(s: FileSourceScanExec): String =
      s.relation.location.rootPaths.head.getName
    val boundScans = all.collect {
      case b: BroadcastExchangeExec if b.output.map(_.name) == Seq("last_d") =>
        nodes(b).collect { case s: FileSourceScanExec => table(s) }
    }
    assert(boundScans.nonEmpty && boundScans.forall(_.toSet == Set("raw_stock_movements")),
      s"the last-day bound scans ${boundScans.mkString("; ")}; only the ledger slice bounds")
    assert(rowsOf(wh.read("stock_points")) == rowsOf(Stock.stockPointsFrom(fullLedger)))
  }

  test("nightly: a re-run on unchanged sources returns (0,0,0) in a pinned number of jobs, none from the refresh") {
    val wh = freshWh()
    val sc = spark.sparkContext
    val first = Graft.nightly(wh, dir)
    assert(first._1 > 0 && first._2 > 0 && first._3 > 0)
    val (again, jobs) = org.apache.spark.SparkJobs.count(sc)(Graft.nightly(wh, dir))
    assert(again == ((0L, 0L, 0L)))
    // the bookkeeping of a night with nothing new: the sales extract's
    // count-and-max and the ledger ingest's, with their adaptive stages;
    // the unchanged source tables' schemas are reused, not resolved
    // again. A rise means a night grew a job back.
    val pinned = 8
    assert(jobs == pinned, s"a no-op night ran $jobs Spark jobs (pinned $pinned)")
    val (points, refreshJobs) =
      org.apache.spark.SparkJobs.count(sc)(InventoryPipeline.refreshStockPoints(wh))
    assert(points == 0 && refreshJobs == 0, s"the no-op refresh ran $refreshJobs jobs")
  }

  test("checkpoint: round trip, in no Spark job") {
    val wh = freshWh()
    val (_, jobs) = org.apache.spark.SparkJobs.count(spark.sparkContext) {
      assert(wh.checkpoint("cp").isEmpty)
      wh.setCheckpoint("cp", 42L)
      assert(wh.checkpoint("cp") == Some(42L))
      wh.setCheckpoint("cp", Long.MinValue)
      assert(wh.checkpoint("cp") == Some(Long.MinValue))
    }
    assert(jobs == 0, s"checkpoint reads and writes ran $jobs Spark jobs")
  }

  test("checkpoint: a crash between the swap renames reads the old value; a stale tmp is ignored, then removed") {
    val wh = freshWh()
    val cps = java.nio.file.Paths.get(wh.root, "_checkpoints")
    wh.setCheckpoint("cp", 7L)
    // crash after rename(target -> .bak), before rename(tmp -> target):
    // the old value comes back, and the crashed write's tmp is not read
    Files.move(cps.resolve("cp"), cps.resolve("cp.bak"))
    Files.createDirectories(cps.resolve("cp.tmp-crashed"))
    Files.write(cps.resolve("cp.tmp-crashed/value"), "8".getBytes("UTF-8"))
    assert(wh.checkpoint("cp") == Some(7L))
    assert(!Files.exists(cps.resolve("cp.bak")))
    // the next write retires the tmp
    wh.setCheckpoint("cp", 9L)
    assert(wh.checkpoint("cp") == Some(9L))
    assert(!Files.exists(cps.resolve("cp.tmp-crashed")))
  }

  test("checkpoint: a directory without the value file fails loud, naming the path and the safe repair") {
    import spark.implicits._
    val wh = freshWh()
    // the one-row parquet layout checkpoints used to have
    val dir = s"${wh.root}/_checkpoints/old"
    Seq(5L).toDF("v").write.parquet(dir)
    val e = intercept[IllegalStateException](wh.checkpoint("old"))
    assert(e.getMessage.contains("_checkpoints/old"), e.getMessage)
    assert(e.getMessage.contains("Deleting the directory is safe"), e.getMessage)
  }

  test("warehouse: a read reuses the schema the warehouse wrote or resolved while the listing is unchanged") {
    import spark.implicits._
    val wh = freshWh()
    val sc = spark.sparkContext
    val rows = Seq((1L, "a", Option(2.5)), (2L, "b", None)).toDF("k", "s", "x")
    def inferred(t: String) = spark.read.parquet(s"${wh.root}/$t").schema
    def schemaJobs(t: String) = org.apache.spark.SparkJobs.count(sc)(wh.read(t).schema)
    wh.write("t", rows)
    val (afterWrite, j1) = schemaJobs("t")
    assert(j1 == 0, s"a read after the warehouse's own write resolved the schema in $j1 jobs")
    assert(afterWrite == inferred("t"))
    wh.append("t", rows.limit(1))
    val (afterAppend, j2) = schemaJobs("t")
    assert(j2 == 0, s"an append of the table's own columns resolved the schema in $j2 jobs")
    assert(afterAppend == inferred("t"))
    // files the warehouse did not write: the next read resolves them, once
    rows.write.mode("append").parquet(s"${wh.root}/t")
    val (external, j3) = schemaJobs("t")
    assert(j3 > 0 && external == inferred("t"))
    val (again, j4) = schemaJobs("t")
    assert(j4 == 0 && again == external)
    assert(wh.read("t").count() == 5)
  }
}
