package graft

import java.nio.file.Files
import java.time.LocalDate

import graft.sources.{Csv, Jdbc}
import org.apache.spark.sql.functions._

/** CSV side-channel (S11–S13) and JDBC window-builder (S4/S5) semantics. */
class SourcesSpec extends SparkSpec {

  // --- JDBC batch windows (pure logic) ------------------------------------

  test("monthly windows form a disjoint half-open cover of the range") {
    val from = LocalDate.parse("2024-10-26")
    val to = LocalDate.parse("2025-01-15")
    val ws = Jdbc.monthlyWindows(from, to)
    assert(ws.head._1 == from)
    assert(ws.last._2 == to.plusDays(1))
    // adjacent windows chain exactly: no gap, no overlap
    ws.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi == lo2)
      case _ =>
    }
    assert(ws.size == 4) // oct(part), nov, dec, jan(part)
  }

  test("daily windows cover every day exactly once") {
    val ws = Jdbc.dailyWindows(LocalDate.parse("2024-01-30"), LocalDate.parse("2024-02-02"))
    assert(ws == Seq(
      (LocalDate.parse("2024-01-30"), LocalDate.parse("2024-01-31")),
      (LocalDate.parse("2024-01-31"), LocalDate.parse("2024-02-01")),
      (LocalDate.parse("2024-02-01"), LocalDate.parse("2024-02-02")),
      (LocalDate.parse("2024-02-02"), LocalDate.parse("2024-02-03"))))
  }

  test("multi-db union aligns branches by name and stamps provenance") {
    import spark.implicits._
    // two "databases" with the SAME logical schema but reordered columns —
    // the cursor-loop concat would misalign these; unionByName must not
    val dbA = Seq((1L, "a1", 10.0), (2L, "a2", 20.0))
      .toDF("venta", "usuario", "total")
    val dbB = Seq(("b1", 30.0, 3L)).toDF("usuario", "total", "venta")
    val out = Jdbc.multiDbUnion(
      Seq("store1_2023" -> dbA, "store1_2024" -> dbB), "store1")
    assert(out.columns.toSeq ==
      Seq("venta", "usuario", "total", "source_db", "tienda"))
    val rows = out.orderBy("venta")
      .select("venta", "usuario", "total", "source_db", "tienda")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getString(4)))
    assert(rows.toSeq == Seq(
      (1L, "a1", 10.0, "store1_2023", "store1"),
      (2L, "a2", 20.0, "store1_2023", "store1"),
      (3L, "b1", 30.0, "store1_2024", "store1")))
    // a branch missing a column must fail fast, not silently null-fill
    val bad = Seq((4L, "x")).toDF("venta", "usuario")
    intercept[org.apache.spark.sql.AnalysisException] {
      Jdbc.multiDbUnion(Seq("db1" -> dbA, "db2" -> bad), "s").collect()
    }
  }

  test("window predicates are disjoint half-open ranges") {
    val ps = Jdbc.windowPredicates("fecha",
      Jdbc.dailyWindows(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-02")))
    assert(ps.toSeq == Seq(
      "fecha >= '2024-01-01' AND fecha < '2024-01-02'",
      "fecha >= '2024-01-02' AND fecha < '2024-01-03'"))
  }

  // --- CSV side-channels ---------------------------------------------------

  test("dedup-append keeps first occurrence per uniq key and is idempotent") {
    val sql = spark.sqlContext
    import sql.implicits._
    val path = Files.createTempDirectory("graft-csv").toString + "/log"

    val b1 = Seq(("k1", "a"), ("k2", "b")).toDF("uniq", "detail")
    assert(Csv.dedupAppend(spark, path, b1) == 2)

    // k2 re-detected with different detail → existing row must win;
    // k3 is new → appended
    val b2 = Seq(("k2", "CHANGED"), ("k3", "c")).toDF("uniq", "detail")
    assert(Csv.dedupAppend(spark, path, b2) == 3)
    val rows = Csv.readAllStrings(spark, path, Seq("uniq", "detail"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows == Map("k1" -> "a", "k2" -> "b", "k3" -> "c"))

    // replaying the same batch changes nothing
    assert(Csv.dedupAppend(spark, path, b2) == 3)
    assert(Csv.readAllStrings(spark, path, Seq("uniq", "detail")).count() == 3)
  }

  test("all-strings read fills missing values with empty string") {
    val sql = spark.sqlContext
    import sql.implicits._
    val path = Files.createTempDirectory("graft-csv").toString + "/s"
    Seq(("x", null: String), ("y", "v")).toDF("uniq", "detail")
      .write.option("header", "true").csv(path)
    val back = Csv.readAllStrings(spark, path, Seq("uniq", "detail"))
    assert(back.filter(col("detail").isNull).isEmpty)
    assert(back.filter(col("uniq") === "x").first().getString(1) == "")
  }

  test("dq exclusion log round-trips through the CSV side-channel") {
    val path = Files.createTempDirectory("graft-csv").toString + "/dq"
    val excl = graft.operators.Dq.dqExclusions(spark, "/root/testdata/sf0.001")
      .select(col("store_id").cast("string"), col("art_id").cast("string"),
        col("hist_id").cast("string"), col("fecha_iso"), col("reason"), col("uniq"))
    val n1 = Csv.dedupAppend(spark, path, excl)
    assert(n1 == excl.count())
    // second detection run: byte-identical log
    assert(Csv.dedupAppend(spark, path, excl) == n1)
  }

  // --- JDBC write sink (S7/S8: statement + pre-dedup, no live DB) ---------

  test("upsertSql builds MySQL INSERT ... ON DUPLICATE KEY UPDATE with keys insert-only") {
    val sql = Jdbc.upsertSql("ventas_detalle",
      Seq("art_id", "tienda_id", "fecha", "cantidad", "precio"),
      keys = Seq("art_id", "tienda_id", "fecha"))
    assert(sql ==
      "INSERT INTO `ventas_detalle` (`art_id`, `tienda_id`, `fecha`, `cantidad`, `precio`) " +
        "VALUES (?, ?, ?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE `cantidad` = VALUES(`cantidad`), `precio` = VALUES(`precio`)")
  }

  test("upsertSql rejects malformed shapes") {
    intercept[IllegalArgumentException] {
      Jdbc.upsertSql("t", Seq("a", "b"), Seq("missing"))
    }
    intercept[IllegalArgumentException] {
      Jdbc.upsertSql("t", Seq("a", "b"), Seq("a", "b")) // nothing to update
    }
    intercept[IllegalArgumentException] {
      Jdbc.upsertSql("t`; DROP TABLE x", Seq("a", "b"), Seq("a")) // backtick smuggling
    }
  }

  test("prepareUpsertBatch collapses a batch to last-wins per key") {
    val sql = spark.sqlContext
    import sql.implicits._
    val incoming = Seq(
      (1L, "2024-01-01", 10L, 100L), // stale version
      (1L, "2024-01-03", 30L, 101L), // winner: newest version
      (2L, "2024-01-02", 20L, 200L),
      (2L, "2024-01-02", 25L, 201L)  // same version: tiebreak decides
    ).toDF("art_id", "version", "qty", "id_origen")
    val out = graft.operators.Upsert.latestPerKey(incoming, Seq("art_id"), "version", "id_origen")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out == Set((1L, 30L), (2L, 25L)))
  }
}
