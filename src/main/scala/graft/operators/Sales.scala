package graft.operators

import graft.Tables
import graft.functions.SalesFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sales-pipeline operators (reference etl_sales/).
  *
  * Fixture mapping (FIXTURES.md §B): `orders` plays the ticket header
  * (`ventas`), `lineitem` plays the payment-flow event table (`flujo` /
  * `movimiento`+`historial`): l_returnflag = payment-type code
  * (N=cash, R=card, A=other), l_linestatus = flow direction (O=ingreso,
  * F=egreso), l_extendedprice = amount.
  *
  * Numeric policy: money arithmetic runs in DecimalType (exact, so Spark and
  * the DuckDB oracle agree bit-for-bit regardless of aggregation order — a
  * double sum would be order-dependent); final outputs are cast to double so
  * both engines emit the same primitive type.
  */
object Sales {

  /** SICAR-style per-ticket rollup — J2 star join + P5 filters + A2
    * conditional sums + A3 max-as-representative + R3 ordering
    * (reference etl_sales/db/extract_sicar_sales.sql:1-25).
    */
  def sicarRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("importe", col("l_extendedprice").cast(Tables.Money))
    val o = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .filter(col("o_orderstatus") === "F" && col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey").as("ven_id"))
      .agg(
        max(col("o_orderdate")).as("fecha_hora"),
        max(col("l_suppkey")).as("caja"),
        sum(when(col("l_returnflag") === "N", col("importe")).otherwise(lit(0)))
          .cast("double").as("efectivo"),
        sum(when(col("l_returnflag") === "R", col("importe")).otherwise(lit(0)))
          .cast("double").as("tarjeta"),
        sum(when(!col("l_returnflag").isin("N", "R"), col("importe")).otherwise(lit(0)))
          .cast("double").as("otros"),
        sum(col("importe")).cast("double").as("total_venta")
      )
      .orderBy(col("ven_id"))
  }

  val sicarRollupSql: String =
    """SELECT l_orderkey AS ven_id,
      |  max(o_orderdate) AS fecha_hora,
      |  max(l_suppkey) AS caja,
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS efectivo,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS tarjeta,
      |  CAST(sum(CASE WHEN l_returnflag NOT IN ('N','R') THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS otros,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_venta
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F' AND l_orderkey IS NOT NULL
      |GROUP BY l_orderkey
      |ORDER BY ven_id""".stripMargin

  /** Shared intermediate: legacy per-ticket payment-part aggregation — J1
    * double left join + A1 conditional sums + A4 coalesce (reference
    * etl_sales/db/extract_legacy_sales.sql:1-22). `cobranza` is role-played
    * by the first line of each order (l_linenumber = 1) with amount
    * l_tax * 100. Keeps Decimal columns; callers cast for output.
    *
    * Not cached here: q02/q03/q04 share one build through the `legacy`
    * tier their harness caches (Spark's CacheManager matches it by
    * plan), and the nightly extract ([[waterfallClean]]) must see a
    * source that grew in place and get its watermark filter pushed into
    * the scans — a session cache keyed by the path would serve the first
    * night's aggregate forever.
    */
  def legacyAggDecimal(spark: SparkSession, dir: String): DataFrame = {
    val ventas = Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("F", "O")) // P4-style static predicate
      .select(col("o_orderkey").as("venta"),
        col("o_orderdate").as("fecha"),
        col("o_totalprice").cast(Tables.Money).as("total"))
    // The reference joins flujo+cobranza onto tickets and then aggregates
    // the fanned-out rows (extract_legacy_sales.sql:9-21). Aggregating the
    // payment events FIRST is value-identical ONCE the fan-out is modeled:
    // a ticket with c cobranza rows duplicates every flujo row c times, so
    // each conditional sum carries a ×max(c,1) factor, and
    // max(coalesce(c_importe,0)) ≡ coalesce(max(c_importe),0). (The fixture
    // lineitem is TPC-H-ish, not TPC-H — l_linenumber=1 is NOT unique per
    // order, so c>1 happens.) PRECONDITION: one header row per venta —
    // ventas.venta is the reference's PRIMARY KEY (db_helpers.py:21) and
    // o_orderkey is unique in the fixture; duplicated headers would fan out
    // in the join-then-group formulation but not here. This is the scale
    // shape: ONE pass over
    // lineitem with map-side partials collapses the (flujo × cobranza)
    // fan-out into |orders| rows before any join, instead of shuffling
    // c×|lineitem| joined rows into a post-join aggregation.
    val isCob = col("l_linenumber") === 1
    val flujo = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("venta"),
        col("l_returnflag").as("concepto2"),
        col("l_linestatus").as("ing_eg"),
        col("l_extendedprice").cast(Tables.Money).as("importe"),
        when(isCob, col("l_tax").cast(Tables.Money) * lit(100)).as("c_importe"),
        when(isCob, 1L).otherwise(0L).as("is_cob"))
      .groupBy(col("venta"))
      .agg(
        sum(when(col("concepto2") === "R" && col("ing_eg") === "O", col("importe"))
          .otherwise(lit(0))).as("t_raw"),
        sum(when(col("concepto2") === "N" && col("ing_eg") === "O", col("importe"))
          .otherwise(lit(0))).as("e_raw"),
        sum(when(!col("concepto2").isin("N", "R") && col("ing_eg") === "O", col("importe"))
          .otherwise(lit(0))).as("o_raw"),
        sum(when(col("ing_eg") === "F", col("importe")).otherwise(lit(0))).as("g_raw"),
        sum(col("is_cob")).as("c_cnt"),
        max(col("c_importe")).as("c_max"))

    val z = lit(0).cast(Tables.Money)
    val m = greatest(col("c_cnt"), lit(1L))
    ventas
      .join(flujo, Seq("venta"), "left")
      .select(col("venta"), col("fecha"), col("total"),
        coalesce(col("t_raw") * m, z).cast(Tables.Money).as("tarjeta_in"),
        coalesce(col("e_raw") * m, z).cast(Tables.Money).as("efectivo_in"),
        coalesce(col("o_raw") * m, z).cast(Tables.Money).as("otros_in"),
        coalesce(col("c_max"), z).as("cobranza_aplicada"),
        coalesce(col("g_raw") * m, z).cast(Tables.Money).as("egresos"))
  }

  /** legacyAggDecimal as a query (doubles out, ordered). */
  def legacyAgg(spark: SparkSession, dir: String): DataFrame =
    legacyAggDecimal(spark, dir)
      .select(col("venta"), col("fecha"),
        col("total").cast("double").as("total"),
        col("tarjeta_in").cast("double").as("tarjeta_in"),
        col("efectivo_in").cast("double").as("efectivo_in"),
        col("otros_in").cast("double").as("otros_in"),
        col("cobranza_aplicada").cast("double").as("cobranza_aplicada"),
        col("egresos").cast("double").as("egresos"))
      .orderBy(col("venta"))

  /** The decimal-domain legacy agg as a DuckDB CTE body (no ORDER BY). */
  val legacyAggCte: String =
    """SELECT v.venta,
      |  max(v.fecha) AS fecha,
      |  max(v.total) AS total,
      |  sum(CASE WHEN f.concepto2 = 'R' AND f.ing_eg = 'O' THEN f.importe ELSE 0 END) AS tarjeta_in,
      |  sum(CASE WHEN f.concepto2 = 'N' AND f.ing_eg = 'O' THEN f.importe ELSE 0 END) AS efectivo_in,
      |  sum(CASE WHEN f.concepto2 NOT IN ('N','R') AND f.ing_eg = 'O' THEN f.importe ELSE 0 END) AS otros_in,
      |  max(COALESCE(c.c_importe, 0)) AS cobranza_aplicada,
      |  sum(CASE WHEN f.ing_eg = 'F' THEN f.importe ELSE 0 END) AS egresos
      |FROM (SELECT o_orderkey AS venta, o_orderdate AS fecha,
      |        CAST(o_totalprice AS DECIMAL(18,2)) AS total
      |      FROM orders WHERE o_orderstatus IN ('F','O')) v
      |LEFT JOIN (SELECT l_orderkey AS venta, l_returnflag AS concepto2,
      |        l_linestatus AS ing_eg, CAST(l_extendedprice AS DECIMAL(18,2)) AS importe
      |      FROM lineitem) f ON v.venta = f.venta
      |LEFT JOIN (SELECT l_orderkey AS venta,
      |        CAST(l_tax AS DECIMAL(18,2)) * 100 AS c_importe
      |      FROM lineitem WHERE l_linenumber = 1) c ON v.venta = c.venta
      |GROUP BY v.venta""".stripMargin

  val legacyAggSql: String =
    s"""WITH agg AS ($legacyAggCte)
      |SELECT venta, fecha,
      |  CAST(total AS DOUBLE) AS total,
      |  CAST(tarjeta_in AS DOUBLE) AS tarjeta_in,
      |  CAST(efectivo_in AS DOUBLE) AS efectivo_in,
      |  CAST(otros_in AS DOUBLE) AS otros_in,
      |  CAST(cobranza_aplicada AS DOUBLE) AS cobranza_aplicada,
      |  CAST(egresos AS DOUBLE) AS egresos
      |FROM agg ORDER BY venta""".stripMargin

  /** Payment waterfall + final projection — F1-F5 + P1/P2/P3
    * (reference etl_sales/transform.py:17-66). Built on top of legacyAgg.
    */
  def waterfallClean(spark: SparkSession, dir: String): DataFrame = {
    val agg = legacyAggDecimal(spark, dir)
    val wf = SalesFns.withQaFlags(SalesFns.withWaterfall(agg))
    wf.withColumn("otros_final", SalesFns.finalOtros)
      .select(
        col("venta").as("ven_id"),
        col("fecha").as("fecha_hora"),
        col("efectivo").cast("double").as("efectivo"),
        col("tarjeta").cast("double").as("tarjeta"),
        col("otros_final").cast("double").as("otros"),
        col("total").cast("double").as("total_venta")
      )
      .orderBy(col("ven_id"))
  }

  val waterfallCleanSql: String =
    s"""WITH agg AS ($legacyAggCte),
      |wf AS (
      |  SELECT *,
      |    (efectivo_in + tarjeta_in + otros_in = 0) AS no_flujo,
      |    CASE WHEN efectivo_in < total THEN efectivo_in ELSE total END AS efectivo_w
      |  FROM agg),
      |wf2 AS (
      |  SELECT *, CASE WHEN tarjeta_in < total - efectivo_w THEN tarjeta_in ELSE total - efectivo_w END AS tarjeta_w FROM wf)
      |SELECT venta AS ven_id, fecha AS fecha_hora,
      |  CAST(CASE WHEN no_flujo THEN total ELSE efectivo_w END AS DOUBLE) AS efectivo,
      |  CAST(CASE WHEN no_flujo THEN 0 ELSE tarjeta_w END AS DOUBLE) AS tarjeta,
      |  CAST(CASE WHEN no_flujo THEN 0
      |       ELSE otros_in + cobranza_aplicada END AS DOUBLE) AS otros,
      |  CAST(total AS DOUBLE) AS total_venta
      |FROM wf2 ORDER BY ven_id""".stripMargin

  /** QA mismatch report — P13 filter + F6 first-match-wins classifier
    * (reference etl_sales/transform.py:37-46). Mismatch = payment parts do
    * not reconcile with the ticket total, or no flow was recorded at all.
    */
  def paymentQa(spark: SparkSession, dir: String): DataFrame = {
    val agg = legacyAggDecimal(spark, dir)
    val wf = SalesFns.withQaFlags(SalesFns.withWaterfall(agg))
    wf.filter(!col("pago_completo") || col("no_flujo"))
      .withColumn("issue", SalesFns.tagIssue)
      .select(
        col("venta").as("ven_id"),
        col("total").cast("double").as("total_venta"),
        col("pagado").cast("double").as("pagado"),
        col("egresos").cast("double").as("egresos"),
        col("issue"))
      .orderBy(col("ven_id"))
  }

  val paymentQaSql: String =
    s"""WITH agg AS ($legacyAggCte),
      |wf AS (
      |  SELECT *,
      |    (efectivo_in + tarjeta_in + otros_in = 0) AS no_flujo,
      |    CASE WHEN efectivo_in < total THEN efectivo_in ELSE total END AS efectivo_w
      |  FROM agg),
      |wf2 AS (
      |  SELECT *, CASE WHEN tarjeta_in < total - efectivo_w THEN tarjeta_in ELSE total - efectivo_w END AS tarjeta_w FROM wf),
      |wf3 AS (
      |  SELECT *,
      |    CASE WHEN no_flujo THEN total ELSE efectivo_w END AS efectivo,
      |    CASE WHEN no_flujo THEN 0 ELSE tarjeta_w END AS tarjeta,
      |    CASE WHEN no_flujo THEN 0
      |         WHEN total - efectivo_w - tarjeta_w > 0 THEN total - efectivo_w - tarjeta_w ELSE 0 END AS otros_pre
      |  FROM wf2),
      |wf4 AS (
      |  SELECT *, efectivo + tarjeta + otros_pre AS pagado,
      |    (round(efectivo + tarjeta + otros_pre, 2) = round(total, 2)) AS pago_completo
      |  FROM wf3)
      |SELECT venta AS ven_id,
      |  CAST(total AS DOUBLE) AS total_venta,
      |  CAST(pagado AS DOUBLE) AS pagado,
      |  CAST(egresos AS DOUBLE) AS egresos,
      |  CASE WHEN no_flujo THEN 'no payment recorded'
      |       WHEN efectivo_in > total AND tarjeta_in = 0 AND otros_in = 0 THEN 'overpaid cash'
      |       WHEN tarjeta_in > total AND efectivo_in = 0 AND otros_in = 0 THEN 'overpaid card'
      |       WHEN pagado = 0 THEN 'no payment recorded'
      |       WHEN egresos > efectivo + tarjeta + otros_pre THEN 'refund too big'
      |       ELSE 'unknown mismatch' END AS issue
      |FROM wf4
      |WHERE NOT pago_completo OR no_flujo
      |ORDER BY ven_id""".stripMargin
}
