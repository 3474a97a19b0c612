package graft

import java.sql.Timestamp
import graft.operators.Stock
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** R4 running-balance-with-resets semantics (reference
  * etl_inventory/seed_stock_points.py:74-85) + R7 change-point round-trip
  * (seed_stock_points.py:119-127), differential-tested against a naive
  * in-memory fold.
  */
case class Ev(id_origen: Long, art_id: Long, tienda_id: Int,
              fecha: Timestamp, is_absolute: Boolean,
              delta_cantidad: Option[Long], abs_stock_after: Option[Long])

/** A ledger row with every nullable column nullable, keys included. */
case class NEv(id_origen: Long, art_id: Option[Long], tienda_id: Option[Int],
               fecha: Option[Timestamp], is_absolute: Boolean,
               delta_cantidad: Option[Long], abs_stock_after: Option[Long])

class StockSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)

  private def ledgerDf(evs: Seq[Ev]): DataFrame =
    evs.toDF().withColumn("tipo_movimiento", lit("x"))

  /** The reference's replay loop, verbatim in Scala. A null-valued
    * absolute (out-of-contract input) resets to the last non-null
    * absolute or 0 — the semantics the window plan produces.
    */
  private def naiveFold(evs: Seq[Ev]): Map[(Int, Long), Seq[(Long, Long)]] =
    evs.groupBy(e => (e.tienda_id, e.art_id)).map { case (k, g) =>
      var running = 0L
      var lastAbs = 0L
      val out = g.sortBy(e => (e.fecha.getTime, e.id_origen)).map { e =>
        if (e.is_absolute) {
          lastAbs = e.abs_stock_after.getOrElse(lastAbs)
          running = lastAbs
        } else running += e.delta_cantidad.getOrElse(0L)
        (e.id_origen, running)
      }
      k -> out
    }

  private def check(evs: Seq[Ev]): Unit = {
    val got = Stock.withBalance(ledgerDf(evs))
      .select($"tienda_id", $"art_id", $"id_origen", $"balance")
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    val want = naiveFold(evs).view.mapValues(_.sortBy(_._1)).toMap
    assert(got == want)
  }

  test("delta-only sequence") {
    check(Seq(
      Ev(1, 10, 0, ts(1), false, Some(5), None),
      Ev(2, 10, 0, ts(2), false, Some(-3), None),
      Ev(3, 10, 0, ts(3), false, Some(7), None)))
  }

  test("absolute-first resets the seed") {
    check(Seq(
      Ev(1, 10, 0, ts(1), true, None, Some(100)),
      Ev(2, 10, 0, ts(2), false, Some(-3), None)))
  }

  test("absolute mid-stream snaps the balance") {
    check(Seq(
      Ev(1, 10, 0, ts(1), false, Some(5), None),
      Ev(2, 10, 0, ts(2), true, None, Some(50)),
      Ev(3, 10, 0, ts(3), false, Some(2), None),
      Ev(4, 10, 0, ts(4), true, None, Some(-7)),
      Ev(5, 10, 0, ts(5), false, Some(1), None)))
  }

  test("same-timestamp events break ties by id_origen") {
    check(Seq(
      Ev(2, 10, 0, ts(1), true, None, Some(9)),
      Ev(1, 10, 0, ts(1), false, Some(5), None),
      Ev(3, 10, 0, ts(1), false, Some(1), None)))
  }

  test("randomized differential vs naive fold") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val evs = (1 to 200).map { i =>
        val isAbs = rnd.nextInt(5) == 0
        Ev(i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(2),
          ts(rnd.nextInt(50).toLong), isAbs,
          if (isAbs) None else Some(rnd.nextInt(21).toLong - 10),
          if (isAbs) Some(rnd.nextInt(201).toLong - 100) else None)
      }
      check(evs)
    }
  }

  test("scalacheck: window plan == naive fold") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEv: Gen[Int => Ev] = for {
      art <- Gen.choose(0L, 3L)
      tid <- Gen.choose(0, 1)
      t <- Gen.choose(0L, 30L)
      isAbs <- Gen.prob(0.25)
      nullAbs <- Gen.prob(0.15) // out-of-contract: absolute with NULL value
      d <- Gen.choose(-10L, 10L)
      a <- Gen.choose(-50L, 50L)
    } yield (i: Int) =>
      Ev(i.toLong, art, tid, ts(t), isAbs,
        if (isAbs) None else Some(d),
        if (isAbs && !nullAbs) Some(a) else None)
    val genEvs = Gen.listOfN(60, genEv).map(_.zipWithIndex.map { case (f, i) => f(i + 1) })
    val prop = Prop.forAll(genEvs) { evs =>
      val df = ledgerDf(evs)
      val window = Stock.withBalance(df)
        .select($"tienda_id", $"art_id", $"id_origen", $"balance")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val naive = naiveFold(evs).flatMap { case ((tid, art), rows) =>
        rows.map { case (id, bal) => (tid, art, id, bal) }
      }.toSet
      window == naive
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("change-point compression round-trips to the dense series") {
    // dense per-key daily series → compress → as-of expand → must equal dense
    val dense = Seq(
      (0, 10L, "2024-01-01", 5L), (0, 10L, "2024-01-02", 5L),
      (0, 10L, "2024-01-03", 8L), (0, 10L, "2024-01-04", 8L),
      (0, 10L, "2024-01-05", 0L),
      (1, 20L, "2024-01-01", 0L), (1, 20L, "2024-01-02", 0L))
      .toDF("store_id", "art_id", "d", "sod")
      .withColumn("d", to_date($"d"))
    val w = Window.partitionBy($"store_id", $"art_id").orderBy($"d")
    val points = dense
      .withColumn("prev", lag($"sod", 1).over(w))
      .filter($"prev".isNull || $"sod" =!= $"prev")
      .drop("prev")
    // expand: join each dense day to latest point <= day
    val expanded = dense.select($"store_id", $"art_id", $"d")
      .join(points.withColumnRenamed("d", "pd").withColumnRenamed("sod", "psod"),
        Seq("store_id", "art_id"))
      .filter($"pd" <= $"d")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"store_id", $"art_id", $"d").orderBy($"pd".desc)))
      .filter($"rn" === 1)
      .select($"store_id", $"art_id", $"d", $"psod".as("sod"))
    val a = dense.collect().map(r => (r.getInt(0), r.getLong(1), r.getDate(2).toString, r.getLong(3))).toSet
    val b = expanded.collect().map(r => (r.getInt(0), r.getLong(1), r.getDate(2).toString, r.getLong(3))).toSet
    assert(a == b)
    assert(points.count() == 4) // 3 change days for key (0,10), 1 for (1,20)
  }

  /** The reference's dense derivation on the driver
    * (seed_stock_points.py:92-127): per-key replay (NULL `fecha` first,
    * ties by id_origen; a NULL absolute keeps the last non-null one),
    * end-of-day balance per active day, a daily calendar over the whole
    * ledger's days, forward fill, SOD = yesterday's EOD (0 on the first
    * day), and a point wherever SOD differs from the day before, that
    * defaulting to 0. Keys with a NULL part emit nothing (the left join
    * onto the calendar drops them). Days are UTC, the session's zone.
    */
  private def densePoints(evs: Seq[NEv]): Set[(Int, Long, Long, Long)] = {
    def day(t: Timestamp): Long = Math.floorDiv(t.getTime, 86400000L)
    val days = evs.flatMap(_.fecha).map(day)
    if (days.isEmpty) return Set.empty
    val (d0, d1) = (days.min, days.max)
    evs.groupBy(e => (e.tienda_id, e.art_id)).toSeq.flatMap {
      case ((Some(tid), Some(art)), g) =>
        var running = 0L
        var lastAbs = 0L
        val eod = scala.collection.mutable.Map.empty[Long, Long]
        g.sortBy(e => (e.fecha.map(_.getTime).getOrElse(Long.MinValue), e.id_origen)).foreach { e =>
          if (e.is_absolute) {
            lastAbs = e.abs_stock_after.getOrElse(lastAbs)
            running = lastAbs
          } else running += e.delta_cantidad.getOrElse(0L)
          e.fecha.foreach(t => eod(day(t)) = running)
        }
        var filled = 0L
        var sod = 0L
        var prevSod = 0L
        (d0 to d1).flatMap { d =>
          sod = if (d == d0) 0L else filled
          filled = eod.getOrElse(d, filled)
          val point = if (sod != prevSod) Some((tid, art, d * 86400000L, sod)) else None
          prevSod = sod
          point
        }
      case _ => Nil
    }.toSet
  }

  private def sparsePoints(evs: Seq[NEv]): Set[(Int, Long, Long, Long)] =
    Stock.stockPointsFrom(evs.toDF().withColumn("tipo_movimiento", lit("x")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet

  test("scalacheck: sparse change points == the dense-calendar reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // 4-hour slots over 5 days: several events a day, frequent ties
    val lastSlot = 29L
    def at(slot: Long): Timestamp = ts(slot * 4 * 3600)
    val genEv: Gen[Int => NEv] = for {
      art <- Gen.frequency(9 -> Gen.choose(0L, 3L).map(Option(_)), 1 -> Gen.const(None))
      tid <- Gen.frequency(9 -> Gen.choose(0, 1).map(Option(_)), 1 -> Gen.const(None))
      slot <- Gen.frequency(9 -> Gen.choose(0L, lastSlot).map(Option(_)), 1 -> Gen.const(None))
      isAbs <- Gen.prob(0.25)
      d <- Gen.frequency(9 -> Gen.choose(-10L, 10L).map(Option(_)), 1 -> Gen.const(None))
      a <- Gen.frequency(3 -> Gen.const(Option(0L)), 6 -> Gen.choose(-20L, 20L).map(Option(_)),
        1 -> Gen.const(None))
    } yield (i: Int) =>
      NEv(i.toLong, art, tid, slot.map(at), isAbs,
        if (isAbs) None else d, if (isAbs) a else None)
    // a key whose only event falls on the ledger's last day
    val lastDayOnly = (i: Int) => NEv(i.toLong, Some(9L), Some(2), Some(at(lastSlot)),
      is_absolute = false, Some(5L), None)
    val genEvs = Gen.frequency(
      1 -> Gen.const(Seq.empty[NEv]),
      9 -> Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, genEv)).map { fs =>
        (fs :+ lastDayOnly).zipWithIndex.map { case (f, i) => f(i + 1) }
      })
    val prop = Prop.forAll(genEvs)(evs => sparsePoints(evs) == densePoints(evs))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    assert(sparsePoints(Nil).isEmpty, "the empty ledger has no points")
  }

  /** Two nights through a temp [[graft.pipelines.Warehouse]]: land
    * `first` and refresh (a full rebuild), then append `second` (when
    * any) and refresh again (incremental). Returns the checkpoint day
    * after night 1, night 2's upserted count and the committed points.
    */
  private def twoNights(first: Seq[NEv], second: Seq[NEv])
      : (Option[Long], Long, Set[(Int, Long, Long, Long)]) = {
    import graft.pipelines.{InventoryPipeline, Warehouse}
    def raw(evs: Seq[NEv]): DataFrame =
      evs.toDF().withColumn("tipo_movimiento", lit("x")).withColumn("usuario", lit("u"))
    val wh = new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft-wh").toString)
    wh.write("raw_stock_movements", raw(first))
    InventoryPipeline.refreshStockPoints(wh)
    val checkpointed = wh.checkpoint("points_last_dt")
    if (second.nonEmpty) wh.append("raw_stock_movements", raw(second))
    val n = InventoryPipeline.refreshStockPoints(wh)
    (checkpointed, n, wh.read("stock_points").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getTimestamp(2).getTime, r.getLong(3))).toSet)
  }

  test("scalacheck: an incremental refresh at a random checkpoint day == the dense-calendar reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    // 4-hour slots over 5 days, as above
    val lastSlot = 29L
    def at(slot: Long): Timestamp = ts(slot * 4 * 3600)
    def dayOf(slot: Long): Long = slot / 6
    // (slot, event): a NULL slot is a NULL `fecha`
    val genEv: Gen[(Option[Long], Int => NEv)] = for {
      art <- Gen.frequency(9 -> Gen.choose(0L, 3L).map(Option(_)), 1 -> Gen.const(None))
      tid <- Gen.frequency(9 -> Gen.choose(0, 1).map(Option(_)), 1 -> Gen.const(None))
      slot <- Gen.frequency(9 -> Gen.choose(0L, lastSlot).map(Option(_)), 1 -> Gen.const(None))
      isAbs <- Gen.prob(0.25)
      d <- Gen.frequency(9 -> Gen.choose(-10L, 10L).map(Option(_)), 1 -> Gen.const(None))
      // every absolute carries its count: the second pending case below
      // shows what a NULL one after the checkpoint does
      a <- Gen.frequency(3 -> Gen.const(Option(0L)), 6 -> Gen.choose(-20L, 20L).map(Option(_)))
    } yield (slot, (i: Int) =>
      NEv(i.toLong, art, tid, slot.map(at), isAbs, if (isAbs) None else d, if (isAbs) a else None))
    // Night 1 lands every event at or before the split slot, the
    // NULL-dated ones included (the ingest's strict `fecha >` filter
    // never lands one later), and an absolute count at the split, so the
    // checkpoint day is the split's. A NULL-dated row lands only for a key
    // with a dated row before that day: the gap the first pending case
    // below shows. Night 2 lands the rest, nothing (an empty slice: no job, 0
    // points), or only the rest of the checkpoint day (a slice that closes
    // no day: 0 points).
    sealed trait Night2
    case object Rest extends Night2
    case object NoRows extends Night2
    case object SameDay extends Night2
    val genCase = for {
      n <- Gen.choose(0, 50)
      evs <- Gen.listOfN(n, genEv)
      split <- Gen.choose(0L, lastSlot)
      count <- Gen.choose(-20L, 20L)
      key <- Gen.zip(Gen.choose(0, 1), Gen.choose(0L, 3L))
      night2 <- Gen.frequency(6 -> Gen.const(Rest), 1 -> Gen.const(NoRows), 1 -> Gen.const(SameDay))
    } yield {
      val countEv = (Some(split), (i: Int) => NEv(i.toLong, Some(key._2), Some(key._1),
        Some(at(split)), is_absolute = true, None, Some(count)))
      val all = (evs :+ countEv).zipWithIndex.map { case ((slot, f), i) => (slot, f(i + 1)) }
      val history = all.collect {
        case (Some(sl), e) if dayOf(sl) < dayOf(split) => (e.tienda_id, e.art_id)
      }.toSet
      val (first, later) = all
        .filter { case (sl, e) => sl.nonEmpty || history((e.tienda_id, e.art_id)) }
        .partition(_._1.forall(_ <= split))
      val second = night2 match {
        case Rest => later
        case NoRows => Nil
        case SameDay => later.filter(_._1.exists(sl => dayOf(sl) == dayOf(split)))
      }
      (first.map(_._2), second.map(_._2), Math.floorDiv(at(split).getTime, 86400000L))
    }
    val prop = Prop.forAllNoShrink(genCase) { case (first, second, cpDay) =>
      val (checkpointed, n, got) = twoNights(first, second)
      val want = densePoints(first ++ second)
      // night 2 commits exactly the points after the checkpoint day
      val fresh = want.count(_._3 > cpDay * 86400000L)
      (checkpointed.contains(cpDay) && got == want && n == fresh) :|
        s"checkpoint $checkpointed (want $cpDay), $n points committed (want $fresh), " +
          s"${(got -- want).size} unexpected and ${(want -- got).size} missing points"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("known gap: an incremental refresh drops the NULL-dated opening balance of a key first dated after the checkpoint") {
    def day(d: Long): Option[Timestamp] = Some(ts(d * 86400))
    // key (0, 1) opens at 5 on a NULL-dated row; its first dated row lands
    // on night 2. The full rebuild's close of day 2 is 6, the incremental
    // replay's 1: it reads no row before the checkpoint day but the as-of
    // seed, and the key has no point yet
    val first = Seq(
      NEv(1, Some(1L), Some(0), None, is_absolute = false, Some(5L), None),
      NEv(2, Some(2L), Some(0), day(1), is_absolute = false, Some(3L), None))
    val second = Seq(
      NEv(3, Some(1L), Some(0), day(2), is_absolute = false, Some(1L), None),
      NEv(4, Some(2L), Some(0), day(3), is_absolute = false, Some(1L), None))
    val got = twoNights(first, second)._3
    pendingUntilFixed {
      assert(got == densePoints(first ++ second))
    }
  }

  test("known gap: an incremental refresh resets a NULL-valued absolute after the checkpoint to the as-of seed") {
    def day(d: Long): Option[Timestamp] = Some(ts(d * 86400))
    // a NULL-valued absolute resets to the last non-null absolute count:
    // none in the full rebuild (0), the as-of seed's 2 in the incremental
    // replay, so the full rebuild's point of 0 on day 3 is missing
    val first = Seq(
      NEv(1, Some(1L), Some(0), day(1), is_absolute = false, Some(2L), None),
      NEv(2, Some(1L), Some(0), day(2), is_absolute = false, Some(0L), None))
    val second = Seq(
      NEv(3, Some(1L), Some(0), day(2), is_absolute = true, None, None),
      NEv(4, Some(1L), Some(0), day(4), is_absolute = false, Some(1L), None))
    val got = twoNights(first, second)._3
    pendingUntilFixed {
      assert(got == densePoints(first ++ second))
    }
  }
}
