package graft.sources

import java.time.LocalDate

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** JDBC extraction builders (reference S1–S5). The harness has no MySQL,
  * so these are the config-level API: the pure window/predicate logic is
  * unit-tested, and [[read]] wires it into `spark.read.jdbc` unchanged.
  *
  * The key Spark-first upgrade over the reference: its per-window loop
  * (one serial query per month/day — etl_inventory/
  * seed_raw_stock_movements.py:38-60, update_raw_stock_movements.py:41-54)
  * becomes the `predicates` array of ONE jdbc read, so every window is a
  * partition and all windows extract in parallel. The per-store loop over
  * databases (etl_sales/extract.py:21-38) becomes a union of per-store
  * reads with the store literal stamped per branch (S6).
  */
object Jdbc {

  final case class Source(url: String, user: String, password: String,
                          driver: String = "com.mysql.cj.jdbc.Driver") {
    def properties: java.util.Properties = {
      val p = new java.util.Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      p.setProperty("driver", driver)
      p
    }
  }

  /** S4: monthly half-open windows [start-of-month, start-of-next-month)
    * covering [from, to] — the seed batching.
    */
  def monthlyWindows(from: LocalDate, to: LocalDate): Seq[(LocalDate, LocalDate)] = {
    val first = from.withDayOfMonth(1)
    Iterator.iterate(first)(_.plusMonths(1))
      .takeWhile(!_.isAfter(to))
      .map { m0 =>
        val lo = if (m0.isBefore(from)) from else m0
        val hi0 = m0.plusMonths(1)
        val hi = if (hi0.isAfter(to.plusDays(1))) to.plusDays(1) else hi0
        (lo, hi)
      }
      .toSeq
  }

  /** S5: daily half-open windows [d, d+1) covering [from, to]. */
  def dailyWindows(from: LocalDate, to: LocalDate): Seq[(LocalDate, LocalDate)] =
    Iterator.iterate(from)(_.plusDays(1))
      .takeWhile(!_.isAfter(to))
      .map(d => (d, d.plusDays(1)))
      .toSeq

  /** P6-shaped predicate per window: `fecha >= lo AND fecha < hi` —
    * exactly one predicate matches any row, so the partitioned read is a
    * disjoint cover (no dup, no loss).
    */
  def windowPredicates(col: String, windows: Seq[(LocalDate, LocalDate)]): Array[String] =
    windows.map { case (lo, hi) => s"$col >= '$lo' AND $col < '$hi'" }.toArray

  /** S2/S3: one parallel jdbc read, one partition per window. */
  def read(spark: SparkSession, src: Source, table: String,
           timeCol: String, windows: Seq[(LocalDate, LocalDate)]): DataFrame =
    spark.read.jdbc(src.url, table, windowPredicates(timeCol, windows), src.properties)

  /** S1: per-database legacy extraction — the Spark form of the
    * reference's `USE <db>` cursor loop (etl_sales/extract.py:21-38),
    * which runs the same query once per per-store schema and concatenates
    * the frames. Here each database is one jdbc read with the table
    * qualified as `` `db`.`table` `` (the USE-equivalent), so the
    * databases extract as independent parallel scans instead of a serial
    * loop; [[multiDbUnion]] stamps the provenance literals and aligns the
    * branches.
    */
  def readMultiDb(spark: SparkSession, src: Source, databases: Seq[String],
                  table: String, store: String): DataFrame =
    multiDbUnion(databases.map { db =>
      db -> spark.read.jdbc(src.url, s"`$db`.`$table`", src.properties)
    }, store)

  /** The pure union+enrichment step of S1 (unit-testable without a live
    * DB): per branch, stamp `source_db` and the store literal `tienda`
    * (S6 — reference extract.py:30-31), then union BY NAME — the
    * reference's pandas concat relies on identical SELECT column order;
    * name alignment is robust to per-schema column reordering and fails
    * fast (instead of silently misaligning) when a branch is missing a
    * column.
    */
  def multiDbUnion(branches: Seq[(String, DataFrame)], store: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(branches.nonEmpty, "multiDbUnion: no source databases")
    branches.map { case (db, df) =>
      df.withColumn("source_db", lit(db)).withColumn("tienda", lit(store))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------- sinks

  /** S7: plain JDBC append — the reference's `df.to_sql(..., if_exists=
    * 'append')` landing path (etl_sales/db/db_helpers.py:25-40). One
    * executor-parallel write; `batchsize` keeps statement batches
    * bounded, and MySQL deployments should enable
    * `rewriteBatchedStatements=true` on [[Source.url]] so the driver
    * collapses each batch into one multi-row INSERT.
    */
  def append(df: DataFrame, src: Source, table: String,
             batchSize: Int = 1000): Unit =
    df.write.mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .jdbc(src.url, table, src.properties)

  private def q(ident: String): String = {
    require(!ident.contains('`'), s"illegal identifier: $ident")
    s"`$ident`"
  }

  /** S8 statement: MySQL `INSERT ... ON DUPLICATE KEY UPDATE` over an
    * explicit column list — the exact statement the reference prepares
    * per row (etl_sales/db/db_helpers.py:25-40), built once per batch
    * here. Non-key columns update from the incoming row via `VALUES()`;
    * key columns are insert-only (updating them would re-key the row).
    * The table must declare the keys as its PRIMARY/UNIQUE KEY — the
    * upsert semantics live in that constraint, not in the statement.
    */
  def upsertSql(table: String, columns: Seq[String], keys: Seq[String]): String = {
    require(columns.nonEmpty, "upsertSql: no columns")
    require(keys.nonEmpty, "upsertSql: no key columns")
    val missing = keys.filterNot(columns.contains)
    require(missing.isEmpty, s"upsertSql: keys not in column list: ${missing.mkString(", ")}")
    val nonKey = columns.filterNot(keys.contains)
    require(nonKey.nonEmpty, "upsertSql: every column is a key — nothing to update")
    s"INSERT INTO ${q(table)} (${columns.map(q).mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")}) " +
      s"ON DUPLICATE KEY UPDATE ${nonKey.map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")}"
  }

  private def qq(ident: String): String = {
    require(!ident.contains('"'), s"illegal identifier: $ident")
    "\"" + ident + "\""
  }

  /** S9 statement, ANSI dialect: one server-side `MERGE INTO target
    * USING staging` — the standard-SQL form of the keyed upsert for
    * engines without MySQL's `ON DUPLICATE KEY UPDATE` (Derby, DB2,
    * Oracle, SQL Server, and — the 100 TB story — every lakehouse SQL
    * endpoint: this is textually the statement a Delta/Iceberg
    * `MERGE INTO` deployment runs, which is why the staged sink below
    * is the closest in-harness realization of the UpsertSink MERGE
    * seam). The source must be a BASE TABLE (ANSI engines reject
    * derived-table/VALUES sources in MERGE — Derby enforces it), which
    * is exactly the reference's S9 staging discipline: bulk-load a
    * staging table, merge once, not row-at-a-time statements.
    * Identifiers are ANSI double-quoted (the MySQL builder above
    * backticks).
    */
  def stagedMergeSql(target: String, staging: String, columns: Seq[String],
                     keys: Seq[String]): String = {
    require(columns.nonEmpty, "stagedMergeSql: no columns")
    require(keys.nonEmpty, "stagedMergeSql: no key columns")
    val missing = keys.filterNot(columns.contains)
    require(missing.isEmpty, s"stagedMergeSql: keys not in column list: ${missing.mkString(", ")}")
    val nonKey = columns.filterNot(keys.contains)
    require(nonKey.nonEmpty, "stagedMergeSql: every column is a key — nothing to update")
    s"MERGE INTO ${qq(target)} t USING ${qq(staging)} s ON " +
      keys.map(k => s"t.${qq(k)} = s.${qq(k)}").mkString(" AND ") +
      s" WHEN MATCHED THEN UPDATE SET " +
      nonKey.map(c => s"${qq(c)} = s.${qq(c)}").mkString(", ") +
      s" WHEN NOT MATCHED THEN INSERT (${columns.map(qq).mkString(", ")})" +
      s" VALUES (${columns.map(c => s"s.${qq(c)}").mkString(", ")})"
  }

  /** Run one statement on the driver-side connection (DDL, the staged
    * merge, the staging truncate). Driver-side by design: these are
    * single server-side statements, not per-row work.
    */
  def execute(src: Source, sql: String): Unit = {
    Class.forName(src.driver)
    val conn = java.sql.DriverManager.getConnection(src.url, src.properties)
    try { conn.createStatement().execute(sql); () } finally conn.close()
  }

  /** S9 production sink: STAGED keyed merge implementing the same
    * [[graft.pipelines.UpsertSink]] contract as the parquet warehouse
    * and the row-statement MySQL sink — truncate staging, bulk-append
    * the (pre-deduped, last-wins) batch with Spark's executor-parallel
    * JDBC writer, then ONE server-side MERGE. Replay-idempotent by
    * construction: the truncate makes staging a pure function of the
    * batch, and a keyed MERGE of the same staging content is a no-op
    * the second time. Both `table` and `table_stg` must pre-exist with
    * the batch's schema and the keys as the target's PRIMARY/UNIQUE
    * KEY (schema ownership is the deployment's, as with the MySQL
    * sink). LIVE-TESTED against embedded Derby in JdbcLiveSpec — the
    * first sink in this family exercised against a real JDBC engine
    * end to end.
    *
    * SINGLE-WRITER contract, same as the parquet warehouse's serial
    * nights: truncate, bulk append and MERGE run as three independent
    * auto-commit connections with no table lock, so two CONCURRENT
    * upserts to the same target would interleave staging content and
    * merge a mixed batch. One upsert per target at a time — the
    * §2.9 serial-nights discipline every sink in this family assumes
    * (a crashed night is replayed before the next is offered, never
    * raced). Cross-target concurrency is fine: staging tables are
    * per-target.
    *
    * Staging reset is `TRUNCATE TABLE` with a `DELETE` fallback:
    * DELETE row-logs the whole table — O(rows) of log I/O per night
    * on a big staging table — while TRUNCATE is a metadata operation
    * on every ANSI target this sink names (Derby ≥10.13, DB2, Oracle,
    * SQL Server); the fallback keeps engines without it working.
    */
  final class JdbcStagedMergeSink(src: Source, batchSize: Int = 1000)
      extends graft.pipelines.UpsertSink with Serializable {
    def upsert(table: String, incoming: DataFrame, keys: Seq[String],
               versionCol: String, tiebreakCol: String): Unit = {
      val batch = Upsert.latestPerKey(incoming, keys, versionCol, tiebreakCol)
      val staging = s"${table}_stg"
      try execute(src, s"TRUNCATE TABLE ${qq(staging)}")
      catch { case _: java.sql.SQLException =>
        execute(src, s"DELETE FROM ${qq(staging)}")
      }
      // quoted so Spark's writer (which ANSI-quotes COLUMN identifiers)
      // and this builder resolve the same case-exact table
      append(batch, src, qq(staging), batchSize)
      execute(src, stagedMergeSql(table, staging, batch.columns.toSeq, keys))
    }
  }

  /** S8 production sink: keyed JDBC upsert implementing the same
    * [[graft.pipelines.UpsertSink]] contract as the parquet warehouse —
    * pipelines swap landing targets without changing shape. Each
    * partition opens one connection and streams prepared-statement
    * batches inside a transaction (commit per partition, rollback on
    * failure); the last-wins pre-dedup keeps MySQL's in-statement row
    * order from deciding ties, and with key-constrained ON DUPLICATE
    * KEY UPDATE replays are idempotent, so a partial failure + Spark
    * task retry converges to the same table state.
    *
    * No live database exists in this harness — the statement builder and
    * pre-dedup are unit-tested ([[upsertSql]], [[Upsert.latestPerKey]]);
    * the connection loop is the thin untestable rim.
    */
  final class JdbcUpsertSink(src: Source, batchSize: Int = 1000)
      extends graft.pipelines.UpsertSink with Serializable {
    def upsert(table: String, incoming: DataFrame, keys: Seq[String],
               versionCol: String, tiebreakCol: String): Unit = {
      val batch = Upsert.latestPerKey(incoming, keys, versionCol, tiebreakCol)
      val sql = upsertSql(table, batch.columns.toSeq, keys)
      val width = batch.columns.length
      val (url, props, drv, bs) = (src.url, src.properties, src.driver, batchSize)
      batch.foreachPartition { rows: Iterator[Row] =>
        if (rows.hasNext) {
          Class.forName(drv) // register the driver in the executor JVM
          val conn = java.sql.DriverManager.getConnection(url, props)
          try {
            conn.setAutoCommit(false)
            val st = conn.prepareStatement(sql)
            var n = 0
            rows.foreach { row =>
              var i = 0
              while (i < width) { st.setObject(i + 1, row.get(i)); i += 1 }
              st.addBatch()
              n += 1
              if (n % bs == 0) st.executeBatch()
            }
            st.executeBatch()
            conn.commit()
          } catch {
            case e: Throwable =>
              // a broken connection makes rollback() itself throw; the
              // ORIGINAL exception must reach the task retry, so the
              // rollback failure rides along as suppressed instead of
              // masking it
              try conn.rollback()
              catch { case re: Throwable => e.addSuppressed(re) }
              throw e
          } finally conn.close()
        }
      }
    }
  }
}
