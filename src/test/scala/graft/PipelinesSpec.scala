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
}
