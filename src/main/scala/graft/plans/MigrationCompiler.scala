package graft.plans

import graft.config.{GlobalConfig, MappingRule, TableConfig}
import graft.functions.TransformOps
import graft.operators.LookupOps
import graft.plugins.PluginRegistry
import graft.rules.ValidationCompiler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.internal.Logging

/**
 * The engine's planner: compiles a declarative [[TableConfig]] (the
 * reference's "query language") into one Catalyst plan.
 *
 * Pipeline shape mirrors the reference's per-row fold
 * (reference: pipeline.py:64-122) set-at-a-time:
 *
 *   source scan -> where filter -> rename+transform projection
 *     -> external lookup joins -> validations (in rule order)
 *     -> skip filter -> self-lookup join -> sink
 *
 * Everything is a `DataFrame` transformation, so Catalyst gets the
 * whole plan: column pruning + the where-predicate reach the scan,
 * lookups become broadcast hash joins, and the chain of per-column
 * `when`s stays inside one whole-stage-codegen span.
 */
object MigrationCompiler extends Logging {

  /** A compiled table migration. `dataFrame` is the pure transformation
    * result; `abortChecks` are the `on_fail=error` / `on_missing=error`
    * pre-write assertions (run them via `assertValid()` before writing —
    * the set-at-a-time equivalent of the reference aborting mid-stream,
    * SURVEY §4.3.4). `skippedRows` is an `observe`-backed count of rows
    * dropped by skip rules, collected as a free by-product of whatever
    * action executes the frame (the reference's per-row warn logs,
    * default_validation.py:31 — minus the second pass they'd cost us). */
  final case class CompiledTable(
      table: TableConfig,
      dataFrame: DataFrame,
      abortChecks: Seq[() => Unit],
      droppedColumns: Seq[String],
      skippedObservation: Option[org.apache.spark.sql.Observation] = None,
      rejectedFrame: Option[DataFrame] = None,
      cached: Option[DataFrame] = None) {
    def assertValid(): Unit = abortChecks.foreach(_.apply())
    /** Meaningful after the frame has executed once (e.g. after the
      * write). Bounded-wait: metric listeners fire asynchronously right
      * after an action, so poll briefly; None if the metric never arrived
      * (frame not executed / loaded driver) instead of blocking forever
      * (Observation.get would). */
    def skippedRowsOpt: Option[Long] = skippedObservation.flatMap { o =>
      def metrics = org.apache.spark.sql.GraftColumnBridge.observationGetOrEmpty(o)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var m = metrics
      while (m.isEmpty && System.nanoTime() < deadline) { Thread.sleep(10); m = metrics }
      m.get("skipped_rows").map(_.asInstanceOf[Long])
    }
    /** Like [[skippedRowsOpt]] but 0 when there are no skip rules, and
      * 0 WITH A WARNING when the metric never arrived — an unavailable
      * metric must not masquerade as "nothing was skipped". */
    def skippedRows: Long =
      if (skippedObservation.isEmpty) 0L
      else skippedRowsOpt.getOrElse {
        MigrationCompiler.metricWarn(
          s"[${table.targetTable}] skip-count metric not available after 5s — " +
            "reporting 0; the frame may not have executed yet")
        0L
      }
    /** Release the quarantine cache (set when the compile persisted the
      * flagged frame so the write and the rejects ride ONE execution). */
    def unpersistCache(): Unit = cached.foreach(_.unpersist(false))
  }

  private[plans] def metricWarn(msg: String): Unit = logWarning(msg)

  /**
   * @param source   already-scanned source table (parquet or JDBC)
   * @param resolve  lookup-/validation-dim resolver: table name ->
   *                 Some(df) if the table exists, None otherwise (so the
   *                 auto-mapping target probe never throws/logs a stack)
   * @param wherePushed  true when the where-string was already pushed
   *                     verbatim into the source scan (Oracle-dialect JDBC
   *                     mode, SURVEY §7.5.6) and must not be re-applied
   * @param global  global config carrying the plugin chains
   *                (auto_mapping_plugin / transform_plugins /
   *                validation_plugins) the compile path dispatches on —
   *                the reference resolves modules by exactly these fields
   *                (core/plugin_registry.py:52-97, pipeline.py:27-61).
   */
  /** @param wantRejected build the quarantine frame of skip-dropped rows.
    *   Opt-in: constructing (and analyzing) that projection is pure
    *   plan-compile overhead when no quarantine sink is configured. When
    *   requested, the flagged frame is PERSISTED so the main write and
    *   the rejects write ride one execution — without it, a live JDBC
    *   source mutated between the two passes would make the rejects
    *   diverge from the rows actually skipped in the written run. */
  def compile(
      cfg: TableConfig,
      source: DataFrame,
      resolve: String => Option[DataFrame],
      wherePushed: Boolean = false,
      global: GlobalConfig = GlobalConfig(),
      wantRejected: Boolean = false): CompiledTable = {

    def dim(name: String): DataFrame = resolve(name).getOrElse(
      throw new IllegalArgumentException(s"[${cfg.targetTable}] lookup table '$name' not found"))

    // 1. auto-mapping: empty mappings -> derive rules via the configured
    //    auto_mapping plugin. The default derives 1:1 identity rules from
    //    the target table's schema if resolvable, else the source schema
    //    (reference: plugins/default_auto_mapping.py:18-26); any other
    //    name must be registered (fail loudly, never silently default).
    // target-table probe for auto-mapping: try the schema-qualified
    // relation first (the reference reads the target's columns from
    // information_schema scoped by target_schema,
    // connectors/postgres_connector.py:111-124), then the bare name
    // (covers this run's own in-memory `written` outputs).
    def targetProbe: Option[DataFrame] =
      resolve(cfg.qualifiedTarget).orElse(
        if (cfg.qualifiedTarget == cfg.targetTable) None else resolve(cfg.targetTable))
    val mappings0 =
      if (cfg.mappings.nonEmpty) cfg.mappings
      else global.autoMappingPlugin match {
        case "default_auto_mapping" =>
          val tgtSchema = targetProbe.map(_.schema).getOrElse(source.schema)
          tgtSchema.fields.toList.map(f => MappingRule(source = Some(f.name), target = Some(f.name)))
        case n =>
          PluginRegistry.required(n, PluginRegistry.autoMapper, "auto_mapping")
            .derive(source.schema, targetProbe.map(_.schema))
      }

    // 2. plan-time schema degradation (replaces the reference's ORA-00904
    //    retry loop, plugins/default_fetcher.py:33-60 — deterministic, no
    //    retry). The reference drops the column from the SELECT but keeps
    //    the mapping rule, so the OUTPUT column still exists filled with
    //    NULL (row.get of a missing key, plugins/default_transform.py:18);
    //    we mirror that: missing source -> NULL literal, rule retained.
    val sourceCols = source.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val mappings = mappings0
    val dropped = mappings0.filterNot(r => sourceCols.contains(r.sourceName.toLowerCase))
    dropped.foreach(r => logWarning(
      s"[${cfg.targetTable}] source column '${r.sourceName}' missing — scanning NULL (plan-time ORA-00904)"))

    // 3. where filter on SOURCE columns (reference embeds it in the SELECT,
    //    plugins/default_fetcher.py:31,40; Catalyst pushes it to the scan).
    val filtered = cfg.where.filterNot(_ => wherePushed) match {
      case Some(w) => source.filter(expr(w))
      case None => source
    }

    // 4. rename projection + transform chains (reference:
    //    plugins/default_transform.py:11-41): one narrow select. Op names
    //    resolve against the table's CONFIGURED plugin chain — the global
    //    chain extended (or, with transform_override, REPLACED) by the
    //    table-level list (reference: pipeline.py:58-61, parser.py:112-118),
    //    with a rule-level `plugin:` taking top precedence. Unchained
    //    plugins' ops never leak in; unregistered chain names throw.
    val tableChain =
      if (cfg.transformOverride) cfg.transformPlugins
      else global.transformPlugins ++ cfg.transformPlugins
    // memoized per distinct rule-level plugin (almost always just None):
    // rebuilding the scope for every mapping rule was measurable
    // plan-compile overhead on validation-heavy tables
    val scopeCache = scala.collection.mutable.HashMap.empty[Option[String], TransformOps.Scope]
    def transformScope(rulePlugin: Option[String]): TransformOps.Scope =
      scopeCache.getOrElseUpdate(rulePlugin, buildTransformScope(rulePlugin))
    def buildTransformScope(rulePlugin: Option[String]): TransformOps.Scope = {
      val names = (rulePlugin.toList ++ tableChain).distinct
      // walk the chain in order, first definition wins; default_transform
      // contributes the builtin ops at ITS chain position
      var builtinClaimed = Set.empty[String]
      val ops = names.foldLeft(Map.empty[String, TransformOps.Op]) { (acc, n) =>
        val contrib =
          if (n == "default_transform") TransformOps.builtinOps
          else PluginRegistry.required(n, PluginRegistry.transform, "transform").ops
        contrib.foldLeft(acc) { (a, kv) =>
          if (a.contains(kv._1)) a
          else {
            if (n == "default_transform") builtinClaimed += kv._1
            a + kv
          }
        }
      }
      TransformOps.Scope(ops, builtinClaimed,
        builtin = names.contains("default_transform"),
        shadowed = PluginRegistry.allTransformOpNames -- ops.keySet)
    }
    val projected = filtered.select(mappings.map { r =>
      val scope = transformScope(r.plugin)
      sourceCols.get(r.sourceName.toLowerCase) match {
        case Some(srcName) =>
          val dt = filtered.schema(srcName).dataType
          TransformOps.chainScoped(r.transform, col(srcName), dt, scope).alias(r.targetName)
        case None => // degraded column: NULL in, transforms still apply (insert:X works)
          TransformOps.chainScoped(r.transform,
            lit(null).cast(org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StringType, scope).alias(r.targetName)
      }
    }: _*)

    var df = projected

    // Row-drop ("skip") and abort ("error") rules are compiled to FLAG
    // COLUMNS on one frame instead of eager filters + per-rule check jobs:
    //  - skip flags AND-combine into one final filter (row-local
    //    predicates, so one combined filter selects the same survivors as
    //    the reference's sequential short-circuit);
    //  - abort flags are guarded by alive-so-far (a row skipped by an
    //    EARLIER rule never reaches a later error rule — the reference's
    //    `return row` short-circuit, default_validation.py:31 — while a
    //    row a LATER rule would skip still aborts first);
    //  - all abort flags are summed in ONE aggregation job, so N error
    //    rules cost one extra pass over the source, not N (at 100 TB the
    //    per-rule isEmpty probes each re-read the upstream).
    var skipFlags = List.empty[String]  // flag=true -> row dropped
    var abortFlags = List.empty[(String, String)] // flag col -> context
    def aliveSoFar: Column =
      skipFlags.foldLeft(lit(true))((acc, f) => acc && !col(f))
    def helperCols: Seq[Column] = (skipFlags ++ abortFlags.map(_._1)).map(col)
    def reproject(): Unit =
      df = df.select(mappings.map(m => col(m.targetName)) ++ helperCols: _*)

    // columns with a self-lookup rule: in the reference these are nulled
    // before validators run (plugins/default_lookup.py:104-107), so every
    // validation on them null-bypasses; we therefore skip those rules.
    val selfRules = mappings.filter(r => r.lookup.exists(_.table == cfg.targetTable))
    val selfTargets = selfRules.map(_.targetName).toSet

    // 5. external lookup joins (reference: plugins/default_lookup.py:44-95).
    mappings.filter(r => r.lookup.exists(_.table != cfg.targetTable)).foreach { r =>
      val lk = r.lookup.get
      val res = LookupOps.externalLookup(df, r.targetName, lk, dim(lk.table),
        deferSkip = true)
      df = res.df
      res.abortViolationCol.foreach { violCol =>
        df = df.withColumn(violCol, aliveSoFar && col(violCol))
        abortFlags ::= violCol -> s"${cfg.targetTable}.${r.targetName} lookup on_missing=error"
      }
      res.skipFlagCol.foreach { f => skipFlags ::= f }
    }

    // 6. validations, in mapping order then rule order; each action is
    //    applied to the frame before the next rule runs, preserving the
    //    reference's sequential mutation semantics
    //    (plugins/default_validation.py:11-91). Each rule dispatches
    //    through the CONFIGURED validation-plugin chain in order:
    //    `default_validation` claims the built-in rule types (regex /
    //    range / lookup-existence join); a custom plugin claims a rule by
    //    returning Some(okPredicate). A rule nothing in the chain claims
    //    is an ERROR — silently-unvalidated data is worse than a crash.
    def builtinOk(vr: graft.config.ValidationRule, tgt: String, dt: org.apache.spark.sql.types.DataType): Column =
      vr.vtype match {
        case "lookup" =>
          val lk = vr.lookup.getOrElse(
            throw new IllegalArgumentException(s"lookup validation on $tgt needs a lookup block"))
          val (joined, okCol) = LookupOps.existenceProbe(df, tgt, lk, dim(lk.table))
          df = joined
          col(okCol)
        case _ => ValidationCompiler.okPredicate(vr, col(tgt), dt)
      }
    @scala.annotation.tailrec
    def resolveOk(chain: List[String], vr: graft.config.ValidationRule,
                  tgt: String, dt: org.apache.spark.sql.types.DataType): Column =
      chain match {
        case Nil => throw new IllegalArgumentException(
          s"[${cfg.targetTable}] no plugin in validation chain " +
            s"${global.validationPlugins.mkString("[", ", ", "]")} handles rule type " +
            s"'${vr.vtype}' on column '$tgt'")
        case "default_validation" :: rest =>
          // the built-in claims exactly its three rule types; unknown
          // types continue down the chain (and error loudly at Nil)
          if (Set("regex", "range", "lookup")(vr.vtype)) builtinOk(vr, tgt, dt)
          else resolveOk(rest, vr, tgt, dt)
        case n :: rest =>
          PluginRegistry.required(n, PluginRegistry.validator, "validation")
            .okPredicate(vr, col(tgt), dt) match {
            case Some(pred) => pred
            case None => resolveOk(rest, vr, tgt, dt)
          }
      }
    var flagId = 0
    mappings.filterNot(r => selfTargets(r.targetName)).foreach { r =>
      r.validation.foreach { vr =>
        val tgt = r.targetName
        val dt = df.schema(tgt).dataType
        val before = df // reference identity: did the probe add helper columns?
        val ok: Column = resolveOk(global.validationPlugins, vr, tgt, dt)
        val probeAddedCols = !(df eq before)
        flagId += 1
        ValidationCompiler.action(vr) match {
          case ValidationCompiler.NullOut =>
            df = df.withColumn(tgt, when(ok, col(tgt)).otherwise(lit(null).cast(dt)))
          case ValidationCompiler.Default(x) =>
            df = df.withColumn(tgt, when(ok, col(tgt)).otherwise(lit(x).cast(dt)))
          case ValidationCompiler.Skip =>
            // flag name doubles as the quarantine's __rejected_by label,
            // so it carries the column and rule type, not just an id —
            // sanitized: a '.' or '`' in a target column name would make
            // later col(flag) references parse as struct access / break
            val safe = (s: String) => s.replaceAll("[^A-Za-z0-9_]", "_")
            val f = s"__skip_${flagId}_${safe(tgt)}_${safe(vr.vtype)}"
            df = df.withColumn(f, !ok)
            skipFlags ::= f
          case ValidationCompiler.Abort =>
            val f = s"__abort_$flagId"
            df = df.withColumn(f, aliveSoFar && !ok)
            abortFlags ::= f -> s"${cfg.targetTable}.$tgt ${vr.vtype}"
        }
        // drop probe helper columns, keep the flags — only the lookup
        // existence probe joins columns in; re-analyzing the projection
        // after every regex/range rule was pure plan-compile overhead
        if (probeAddedCols) reproject()
      }
    }

    // one combined violation pass over the flagged frame (pre-filter, so
    // rows later skips would drop still abort — reference order semantics)
    val abortChecks =
      if (abortFlags.isEmpty) Seq.empty[() => Unit]
      else {
        val frame = df
        val flags = abortFlags.reverse
        Seq(() => ValidationCompiler.assertNoViolationsCombined(
          frame, flags.map { case (f, ctx) => (col(f), ctx) }))
      }

    // final skip filter: one conjunction instead of N sequential filters;
    // the observe rides the same execution, so the skip count is free.
    // Observation rejects STREAMING frames (one metric per micro-batch
    // makes no sense) — streams just filter; use a StreamingQueryListener
    // for per-batch skip counts there.
    // quarantine view of the rows the skip filter is about to drop:
    // target columns + which rule(s) fired (the reference only warn-logs
    // them, pipeline.py:78-85; routing them to a sink makes rejects
    // auditable). Opt-in (`wantRejected`): the flagged frame is persisted
    // so the main write and the rejects write share ONE execution — no
    // second source pass, and no divergence against a live JDBC source
    // that mutates between passes.
    val (rejected, cachedFrame) =
      if (!wantRejected || skipFlags.isEmpty || df.isStreaming) (None, None)
      else {
        df = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (Some(df.filter(!aliveSoFar).select(
          mappings.map(m => col(m.targetName)) :+
            concat_ws(",", skipFlags.reverse.map(f => when(col(f), lit(f))): _*)
              .as("__rejected_by"): _*)),
          Some(df))
      }
    val skippedObs =
      if (skipFlags.isEmpty) None
      else if (df.isStreaming) {
        df = df.filter(aliveSoFar)
        None
      } else {
        val o = org.apache.spark.sql.Observation(s"graft_skips_${cfg.targetTable}")
        df = df.observe(o, count(when(!aliveSoFar, lit(1))).as("skipped_rows"))
        df = df.filter(aliveSoFar)
        Some(o)
      }

    // 7. self-lookup joins, replacing the two-phase UPDATE fixup
    //    (plugins/default_loader.py:109-154). Runs after the skip filter:
    //    the self-dim must only see surviving rows.
    df = df.select(mappings.map(m => col(m.targetName)): _*)
    selfRules.foreach { r =>
      df = LookupOps.selfLookup(df, r.targetName, r.lookup.get)
    }

    // 8. final projection in mapping order (the reference emits columns in
    //    mapping order via the first row's dict keys,
    //    plugins/default_loader.py:92).
    df = df.select(mappings.map(m => col(m.targetName)): _*)

    CompiledTable(cfg, df, abortChecks, dropped.map(_.sourceName), skippedObs, rejected, cachedFrame)
  }

  /**
   * Table-ordering scheduler: topological order from lookup dependencies
   * with stable config-order tie-break. The reference relies on manual
   * `table_files` order (mappings/parser.py:159-162, pipeline.py:39);
   * we derive the constraint instead. Independent tables may run in
   * parallel (they share no dependency edge).
   */
  def schedule(tables: List[TableConfig]): List[TableConfig] =
    scheduleWaves(tables).flatten

  /** Same topological order, grouped into waves: tables in one wave share
    * no dependency edge and may execute concurrently (the reference's
    * sequential file-order loop, pipeline.py:39, generalized). */
  def scheduleWaves(tables: List[TableConfig]): List[List[TableConfig]] = {
    val byTarget = tables.map(t => t.targetTable -> t).toMap
    def deps(t: TableConfig): Set[String] =
      t.mappings.flatMap(r =>
        r.lookup.map(_.table).toList ++ r.validation.flatMap(_.lookup.map(_.table))
      ).toSet.filter(d => d != t.targetTable && byTarget.contains(d))
    val done = scala.collection.mutable.LinkedHashSet[String]()
    val out = List.newBuilder[List[TableConfig]]
    var remaining = tables
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(t => deps(t).forall(done.contains))
      val batch = if (ready.nonEmpty) ready else List(blocked.head) // cycle: fall back to config order
      batch.foreach(t => done += t.targetTable)
      out += batch
      remaining = remaining.filterNot(t => batch.exists(_.targetTable == t.targetTable))
    }
    out.result()
  }
}
