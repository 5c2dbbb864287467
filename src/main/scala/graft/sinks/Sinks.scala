package graft.sinks

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/**
 * Sink abstraction — the reference's loader surface
 * (reference: plugin_interfaces/loader_interface.py:10-31 +
 * plugins/default_loader.py). The batch lifecycle (pre_load /
 * load_batch / finalize_table) collapses to preLoad / write /
 * finalizeTable because a DataFrame write IS the batch loop.
 */
trait Sink {
  def preLoad(table: String): Unit = ()
  def write(table: String, df: DataFrame): Unit
  def finalizeTable(table: String): Unit = ()

  /** Read back a table written in this run, if the sink supports it —
    * used by Engine.migrate to resolve lookups against already-migrated
    * TARGET data (the reference probes the target Postgres,
    * default_lookup.py), not the pre-transform source. */
  def readBack(table: String): Option[DataFrame] = None

  /** Name under which THIS sink stores the quarantine rejects of
    * `qualifiedTarget`. Schema-capable sinks keep the qualifier so the
    * rejects land next to their table; sinks without a schema namespace
    * override to flatten it (ParquetSink) — the Engine must be able to
    * route any table's rejects to any configured quarantine sink without
    * crashing mid-migration on a name the sink can't spell. */
  def rejectsTable(qualifiedTarget: String): String = s"${qualifiedTarget}_rejects"
}

/** Parquet sink for the test/bench path; overwrite == the reference's
  * truncate-then-load idempotency (plugins/default_loader.py:38-44). */
final case class ParquetSink(dir: String, truncate: Boolean = true) extends Sink {
  /** A parquet directory has no schema namespace: a schema-qualified
    * target (config `target_schema` other than the "public" default)
    * fails loudly instead of silently flattening into the table name. */
  private def path(table: String): String = {
    require(!table.contains('.'),
      s"ParquetSink has no schema namespace: cannot write '$table' — " +
        "use the default target_schema (public) or a JDBC sink")
    s"$dir/$table.parquet"
  }
  def write(table: String, df: DataFrame): Unit =
    df.write.mode(if (truncate) "overwrite" else "append").parquet(path(table))
  override def readBack(table: String): Option[DataFrame] =
    Some(org.apache.spark.sql.SparkSession.active.read.parquet(path(table)))
  /** A schema-qualified target flattens to `schema__table_rejects`: the
    * quarantine is an audit sink, so a JDBC-target + parquet-quarantine
    * combination with a non-default target_schema must keep working
    * (path() would reject the dotted name). */
  override def rejectsTable(qualifiedTarget: String): String =
    s"${qualifiedTarget.replace(".", "__")}_rejects"
}

/**
 * JDBC sink. Replaces the single-connection `execute_values` loop
 * (reference: plugins/default_loader.py:80-107, page_size=1000) with
 * per-partition parallel batched inserts.
 *
 * 100 TB design rules:
 *  - `truncate=true` maps the reference's `TRUNCATE TABLE … RESTART
 *    IDENTITY CASCADE` (plugins/default_loader.py:38-44) onto Spark's
 *    overwrite-with-truncate, which keeps the table's DDL;
 *  - writes are repartitioned to `writePartitions` bounded-size tasks
 *    so one straggler partition can't hold a commit hostage;
 *  - `batchsize` controls rows per INSERT round-trip (the reference's
 *    1000-row execute_values page).
 */
object JdbcSink {
  /** SQL-standard identifier quoting: wrap in double quotes, double any
    * embedded quote. Rejects control characters outright. */
  def quote(ident: String): String = {
    require(ident.nonEmpty && !ident.exists(_ < ' '),
      s"illegal SQL identifier: '$ident'")
    "\"" + ident.replace("\"", "\"\"") + "\""
  }

  /** Validate a table name for RAW interpolation. The table name must
    * stay unquoted so it resolves exactly like the writer's own
    * `CREATE TABLE $name` (identifier case-folding differs per dialect:
    * Derby/Oracle fold up, Postgres folds down — quoting here would
    * miss the table the write just created). Validation closes the
    * injection surface quoting would have closed. */
  def rawTableName(name: String): String = {
    require(name.matches("""[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)*"""),
      s"illegal SQL table name: '$name'")
    name
  }

  /** The identity-restarting truncate statements, preferred first with a
    * portable fallback (reference: plugins/default_loader.py:38-44). */
  def restartIdentityTruncateSql(table: String, cascade: Boolean): Seq[String] = {
    val t = rawTableName(table)
    Seq(
      s"TRUNCATE TABLE $t RESTART IDENTITY" + (if (cascade) " CASCADE" else ""),
      s"TRUNCATE TABLE $t")
  }
}

final case class JdbcSink(
    url: String,
    user: String,
    password: String,
    batchSize: Int = 5000,
    truncate: Boolean = true,
    cascadeTruncate: Boolean = true,
    writePartitions: Int = 0,
    createTableColumnTypes: Option[String] = None,
    restartIdentity: Boolean = false) extends Sink {

  /** Truncate-parity with the reference (`TRUNCATE … RESTART IDENTITY
    * CASCADE`, plugins/default_loader.py:38-44): Spark's JDBC
    * `truncate`/`cascadeTruncate` options cover CASCADE but cannot
    * restart identity sequences, so when `restartIdentity` is on the
    * preLoad issues the full statement through the executor. Dialects
    * without the RESTART IDENTITY clause fall back to a plain TRUNCATE
    * (Derby restarts identities on plain TRUNCATE anyway); a missing
    * table — first run — is ignored, the writer will create it. */
  override def preLoad(table: String): Unit =
    if (truncate && restartIdentity) {
      val stmts = JdbcSink.restartIdentityTruncateSql(table, cascadeTruncate)
      val applied = stmts.exists { sql =>
        try { execute(sql); true }
        catch { case _: java.sql.SQLException => false }
      }
      if (!applied) () // table absent or dialect refuses TRUNCATE: writer handles it
    }

  def write(table: String, df: DataFrame): Unit = {
    val out = if (writePartitions > 0) df.repartition(writePartitions) else df
    val w = out.write.format("jdbc")
      .option("url", url).option("user", user).option("password", password)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("truncate", truncate)
      .option("cascadeTruncate", cascadeTruncate)
      .option("isolationLevel", "READ_COMMITTED")
    // dialect override for CREATE TABLE column types (e.g. VARCHAR(n)
    // where the dialect default — Derby's CLOB — can't be compared/joined)
    createTableColumnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.mode(if (truncate) "overwrite" else "append").save()
  }

  /** Read the written target back so later tables' lookups resolve
    * against TARGET-side data (sink coercions and post-write fixups
    * included) instead of re-executing the upstream plan per dependent
    * table — the reference probes the target Postgres the same way
    * (default_lookup.py). */
  override def readBack(table: String): Option[DataFrame] =
    Some(org.apache.spark.sql.SparkSession.active.read.format("jdbc")
      .option("url", url).option("user", user).option("password", password)
      .option("dbtable", table).load())

  /** Startup connectivity probe — JDBC-standard `Connection.isValid`,
    * dialect-free (Derby rejects the FROM-less `SELECT 1`). */
  def checkConnectivity(): Unit = {
    val c = java.sql.DriverManager.getConnection(url, user, password)
    try require(c.isValid(5), s"connection to $url not valid") finally c.close()
  }

  /** Generic statement executor (reference:
    * connectors/postgres_connector.py:81-99 / oracle_connector.py:89-107)
    * for DDL the DataFrame writer can't express: RESTART IDENTITY, the
    * self-lookup compat-mode UPDATE…FROM fixup, ALTER TABLE. */
  def execute(sql: String): Boolean = {
    val c = java.sql.DriverManager.getConnection(url, user, password)
    try {
      val st = c.createStatement()
      try st.execute(sql) finally st.close()
    } finally c.close()
  }

  /**
   * Keyed UPSERT — the idempotent write the STREAMING loader needs:
   * a replayed micro-batch (failure recovery re-delivers the same
   * rows) converges to the same table state, where a plain append
   * would duplicate. Spelled as batched DELETE-by-key + INSERT
   * inside one transaction per partition — portable across dialects
   * (Derby's MERGE cannot take a VALUES source), and exactly the
   * per-key last-write-wins semantics an upsert promises. In-batch
   * duplicate keys are collapsed first (arbitrary survivor —
   * dedup upstream for a deterministic one). Executor-side:
   * each partition opens one connection, so a 1000-task write is
   * 1000 parallel transactions, not a driver loop.
   */
  def upsert(table: String, df: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val cols = df.columns.toSeq
    keyCols.foreach(k => require(cols.contains(k), s"missing key column '$k'"))
    val t = JdbcSink.rawTableName(table)
    val deleteSql = s"DELETE FROM $t WHERE " +
      keyCols.map(k => s"${JdbcSink.quote(k)} = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $t (${cols.map(JdbcSink.quote).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val keyIdx = keyCols.map(cols.indexOf)
    val (u, us, pw, bs) = (url, user, password, batchSize)
    df.dropDuplicates(keyCols).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conn = java.sql.DriverManager.getConnection(u, us, pw)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          try {
            var n = 0
            rows.foreach { r =>
              keyIdx.zipWithIndex.foreach { case (ci, pi) =>
                del.setObject(pi + 1, r.get(ci))
              }
              del.addBatch()
              cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
              ins.addBatch()
              n += 1
              if (n % bs == 0) { del.executeBatch(); ins.executeBatch() }
            }
            del.executeBatch(); ins.executeBatch()
            conn.commit()
          } finally { del.close(); ins.close() }
        } catch {
          case NonFatal(e) =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        } finally conn.close()
    }
  }

  /**
   * Delete-aware CDC batch apply: rows whose `opCol` equals
   * `deleteOp` remove their key, everything else upserts (via
   * [[upsert]], so replays converge). The caller must pre-collapse
   * to ONE row per key (latest change wins —
   * [[graft.operators.Temporal.applyCdc]]'s window does exactly
   * this); with a key both deleted and upserted in one frame the
   * outcome would depend on arrival order, so that contract is the
   * caller's.
   */
  def applyCdcBatch(table: String, df: DataFrame, keyCols: Seq[String],
                    opCol: String, deleteOp: String = "D"): Unit = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "need at least one key column")
    val t = JdbcSink.rawTableName(table)
    val deleteSql = s"DELETE FROM $t WHERE " +
      keyCols.map(k => s"${JdbcSink.quote(k)} = ?").mkString(" AND ")
    val (u, us, pw, bs) = (url, user, password, batchSize)
    df.filter(col(opCol) === deleteOp)
      .select(keyCols.map(col): _*).distinct()
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conn = java.sql.DriverManager.getConnection(u, us, pw)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          try {
            var n = 0
            rows.foreach { r =>
              keyCols.indices.foreach(i => del.setObject(i + 1, r.get(i)))
              del.addBatch()
              n += 1
              if (n % bs == 0) del.executeBatch()
            }
            del.executeBatch()
            conn.commit()
          } finally del.close()
        } catch {
          case NonFatal(e) =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        } finally conn.close()
      }
    upsert(table, df.filter(col(opCol) =!= deleteOp).drop(opCol), keyCols)
  }

  /** Self-lookup compat mode (SURVEY §7.5.4): post-write UPDATE fixup for
    * targets preloaded with other data — same effect as the reference's
    * Postgres-only `UPDATE … FROM` (plugins/default_loader.py:128-141)
    * but spelled as an ANSI correlated subquery, so it runs on every
    * dialect (live-tested on Derby). Stricter than the reference on
    * duplicate keys: a scalar subquery with >1 match errors instead of
    * picking an arbitrary row. Column identifiers are quoted, matching
    * how Spark's JDBC writer created them (the reference interpolates
    * raw — config-driven injection surface); the table name is
    * validated but raw, so it case-folds identically to the write's
    * own `CREATE TABLE`. */
  def selfLookupFixup(table: String, targetCol: String, keyCol: String, valueCol: String): Unit = {
    val (t, tc, kc, vc) = (JdbcSink.rawTableName(table), JdbcSink.quote(targetCol),
      JdbcSink.quote(keyCol), JdbcSink.quote(valueCol))
    execute(
      s"""UPDATE $t target SET $tc =
         |  (SELECT s.$vc FROM $t s WHERE s.$kc = target.$tc AND s.$vc IS NOT NULL)
         |WHERE EXISTS
         |  (SELECT 1 FROM $t s WHERE s.$kc = target.$tc AND s.$vc IS NOT NULL)""".stripMargin)
    ()
  }
}
