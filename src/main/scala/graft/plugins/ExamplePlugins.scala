package graft.plugins

import graft.functions.CaseMapping.graftLower
import graft.functions.TransformOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/**
 * Example site plugin: the `normalize_names` transform the reference's
 * shipped config names but does not ship
 * (reference: config/tables/table_example.yaml:20 — see SURVEY
 * provenance note). Loadable via
 * `PluginRegistry.loadAndInstall("graft.plugins.NormalizeNamesPlugin")`.
 */
final class NormalizeNamesPlugin extends TransformPlugin {
  override def name: String = "normalize_names"
  override def ops: Map[String, TransformOps.Op] = Map(
    // "  José  GARCÍA-Lopez " -> "jose_garcia_lopez" (ascii-fold, snake)
    "normalize_names" -> ((c, dt) =>
      if (dt != StringType) c
      else regexp_replace(
        regexp_replace(graftLower(trim(c)), "[^a-z0-9]+", "_"), "^_+|_+$", "")),
  )
}

/**
 * Example site validator: adds a `length` rule type (pattern "MIN-MAX"
 * on string length) the built-in validator doesn't know. Demonstrates
 * the ValidationPlugin contract: claim a rule by returning Some(ok),
 * pass on the rest (reference: plugin_interfaces/validation_interface.py).
 * Select it via `validation_plugins: [length_validation,
 * default_validation]`.
 */
final class LengthValidationPlugin extends ValidationPlugin {
  override def name: String = "length_validation"
  override def okPredicate(rule: graft.config.ValidationRule,
                           value: org.apache.spark.sql.Column,
                           dt: org.apache.spark.sql.types.DataType)
  : Option[org.apache.spark.sql.Column] =
    rule.vtype match {
      case "length" =>
        val p = rule.pattern.getOrElse(throw new IllegalArgumentException(
          "length validation needs pattern 'MIN-MAX'"))
        val parts = p.split("-", 2).map(_.trim)
        require(parts.length == 2 && parts.forall(s => s.nonEmpty && s.forall(_.isDigit)),
          s"bad length pattern '$p' (want 'MIN-MAX')")
        val (lo, hi) = (parts(0).toInt, parts(1).toInt)
        // null bypass matches the built-in rules: null is never a failure
        Some(value.isNull || (length(value.cast(StringType)) >= lo &&
          length(value.cast(StringType)) <= hi))
      case _ => None
    }
}

/**
 * Example site fetcher: the `incremental_fetcher` the reference's example
 * table config selects but never shipped
 * (reference: config/tables/table_example.yaml:10). Restricts the scan to
 * rows past a watermark — the batch flavor of incremental loading (the
 * streaming flavor is [[graft.streaming.StreamingOps.compileStream]]).
 *
 * Watermark source: `GRAFT_WATERMARK` env ("column>=value"), kept
 * env-driven so the class stays no-arg-constructible for
 * `Class.forName` loading; a real deployment would read its own state
 * store. The predicate is ANDed into the pushdown where-clause, so JDBC
 * sources ship it to the database verbatim.
 */
final class IncrementalFetcherPlugin extends FetcherPlugin {
  override def name: String = "incremental_fetcher"
  override def scan(catalog: graft.sources.Catalog, table: String,
                    where: Option[String]): (org.apache.spark.sql.DataFrame, Boolean) = {
    val watermark = sys.env.get("GRAFT_WATERMARK")
    val combined = (where.toList ++ watermark.toList) match {
      case Nil => None
      case one :: Nil => Some(one)
      case many => Some(many.map(w => s"($w)").mkString(" AND "))
    }
    catalog.scan(table, combined)
  }
}
