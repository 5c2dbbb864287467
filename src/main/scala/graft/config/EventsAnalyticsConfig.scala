package graft.config

import org.yaml.snakeyaml.Yaml

/**
 * Config-driven EVENTS analytics job — the third config surface after
 * the document and chat curation pipelines: the session-attribution
 * composition ([[graft.plans.CurationCompiler.compileEvents]] builds
 * the exact `q_pipeline_events` plan) declared as YAML. Same contract
 * as the other two compilers: the config surface compiles through the
 * SAME operators as the programmatic API, spec-pinned identical, so
 * the two can never drift.
 *
 * Shape:
 * {{{
 * events_analytics:
 *   user_col: user_id
 *   ts_col: ts
 *   enrich: {left_type: purchase, right_type: view,
 *            value_col: value, tolerance_seconds: null}
 *   sessions: {gap_seconds: 7200}
 *   skew: {num_buckets: 64}   # optional; omit -> plain plans
 * }}}
 *
 * The optional `skew` mapping IS the plan choice: present, the
 * compiled plan takes [[graft.operators.Temporal.asofJoinSkewed]] and
 * [[graft.operators.Windowed.sessionizeSkewed]] at `num_buckets`
 * (default 64) — the (key, ts-bucket) + boundary-carry plans for a
 * log with a monster key; absent, the plain single-shuffle operators,
 * which are cheaper on well-distributed keys. Output is identical
 * either way (spec-pinned). Every mapping rejects keys it does not
 * know, so a misspelled or retired option fails at parse time instead
 * of silently changing the plan.
 */
final case class EventsAnalyticsConfig(
    userCol: String, tsCol: String, typeCol: String, idCol: String,
    leftType: String, rightType: String, valueCol: String,
    toleranceSeconds: Option[Double], sessionGapSeconds: Long,
    skewBuckets: Option[Int] = None) {
  require(leftType != rightType, "enrich sides must differ")
  require(sessionGapSeconds > 0, "session gap must be positive")
  require(skewBuckets.forall(_ >= 2), "skew.num_buckets must be >= 2")
}

/** The events configs' shared YAML reading: structural casts and the
  * known-key check, both loud (IllegalArgumentException naming the
  * offending node or key). */
private[config] object EventsYaml {
  def root(yaml: String, rootKey: String, what: String,
           rootOptional: Boolean = false): scala.collection.Map[String, Object] = {
    val root0 = new Yaml().load[Object](yaml)
    require(root0 != null, s"empty $what config")
    val root = StoreReadConfig.asMapping(root0, s"$what config root")
    root.get(rootKey).map(StoreReadConfig.asMapping(_, rootKey))
      .getOrElse(if (rootOptional) root else throw new IllegalArgumentException(
        s"$what config needs an '$rootKey' mapping"))
  }

  /** `m` itself, after checking it holds only `known` keys. */
  def only(m: scala.collection.Map[String, Object], what: String,
           known: String*): scala.collection.Map[String, Object] = {
    val unknown = m.keys.filterNot(known.contains).toSeq.sorted
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"$what: unknown key${if (unknown.size > 1) "s" else ""} " +
        s"${unknown.map(k => s"'$k'").mkString(", ")} " +
        s"(known: ${known.mkString(", ")})")
    m
  }

  /** The optional `skew` mapping: `Some(num_buckets)` (default 64)
    * when present, `None` when absent. */
  def skewBuckets(cfg: scala.collection.Map[String, Object],
                  owner: String): Option[Int] =
    cfg.get("skew").map { s =>
      val m = only(StoreReadConfig.asMapping(s, s"$owner.skew"),
        s"$owner.skew", "num_buckets")
      m.getOrElse("num_buckets", "64").toString.toInt
    }
}

object EventsAnalyticsConfig {
  def fromYaml(yaml: String): EventsAnalyticsConfig = {
    import EventsYaml.only
    val cfg = only(EventsYaml.root(yaml, "events_analytics",
      "events analytics", rootOptional = true), "events_analytics",
      "user_col", "ts_col", "type_col", "id_col", "enrich", "sessions", "skew")
    def str(k: String, d: String): String =
      cfg.getOrElse(k, d).toString
    val enrich = only(StoreReadConfig.asMapping(cfg.getOrElse("enrich",
      throw new IllegalArgumentException(
        "events analytics config needs an 'enrich' mapping")),
      "events_analytics.enrich"), "events_analytics.enrich",
      "left_type", "right_type", "value_col", "tolerance_seconds")
    val sessions = only(StoreReadConfig.asMapping(cfg.getOrElse("sessions",
      throw new IllegalArgumentException(
        "events analytics config needs a 'sessions' mapping")),
      "events_analytics.sessions"), "events_analytics.sessions",
      "gap_seconds")
    EventsAnalyticsConfig(
      userCol = str("user_col", "user_id"),
      tsCol = str("ts_col", "ts"),
      typeCol = str("type_col", "event_type"),
      idCol = str("id_col", "event_id"),
      leftType = enrich.getOrElse("left_type",
        throw new IllegalArgumentException("enrich needs left_type")).toString,
      rightType = enrich.getOrElse("right_type",
        throw new IllegalArgumentException("enrich needs right_type")).toString,
      valueCol = enrich.getOrElse("value_col", "value").toString,
      toleranceSeconds = enrich.get("tolerance_seconds")
        .filter(v => v != null && v.toString.nonEmpty &&
          v.toString != "null")
        .map(_.toString.toDouble),
      sessionGapSeconds =
        sessions.getOrElse("gap_seconds", "7200").toString.toLong,
      skewBuckets = EventsYaml.skewBuckets(cfg, "events_analytics"))
  }
}

/**
 * Config-driven TIME-WEIGHTED-AVERAGE job over an event log — the
 * fourth events-surface entry (r17). Same contract as every config
 * surface: compiles through the SAME operators the programmatic API
 * exposes — [[graft.operators.Temporal.timeWeightedAvgSkewed]] at
 * `num_buckets` when the `skew` mapping is present,
 * [[graft.operators.Temporal.timeWeightedAvg]] (the plain per-key
 * window) when it is absent — graded on the identical q_events_twa
 * oracle text. Unknown keys fail at parse time.
 *
 * Shape:
 * {{{
 * events_twa:
 *   user_col: user_id
 *   ts_col: ts
 *   value_col: value
 *   tie_col: event_id
 *   skew: {num_buckets: 64}   # optional; omit -> plain plan
 * }}}
 */
final case class EventsTwaConfig(
    userCol: String, tsCol: String, valueCol: String, tieCol: String,
    skewBuckets: Option[Int] = None) {
  require(skewBuckets.forall(_ >= 2), "skew.num_buckets must be >= 2")
}

object EventsTwaConfig {
  def fromYaml(yaml: String): EventsTwaConfig = {
    val cfg = EventsYaml.only(EventsYaml.root(yaml, "events_twa", "events twa"),
      "events_twa", "user_col", "ts_col", "value_col", "tie_col", "skew")
    EventsTwaConfig(
      userCol = cfg.getOrElse("user_col", "user_id").toString,
      tsCol = cfg.getOrElse("ts_col", "ts").toString,
      valueCol = cfg.getOrElse("value_col", "value").toString,
      tieCol = cfg.getOrElse("tie_col", "event_id").toString,
      skewBuckets = EventsYaml.skewBuckets(cfg, "events_twa"))
  }
}

/**
 * Config-driven RFM SEGMENTATION job — the fifth events-surface entry
 * (r17): compiles to [[graft.operators.Windowed.rfmCard]], which picks
 * its plan from the exact key count its one stats pass measures (the
 * three global `ntile` windows up to
 * [[graft.operators.Windowed.RfmPlainMaxKeys]] keys, the sharded ranks
 * of [[graft.operators.Windowed.rfmCardSharded]] beyond), so a config
 * user gets the billion-key plan exactly like the programmatic caller.
 * Graded on the identical q_events_rfm oracle text. Unknown keys fail
 * at parse time.
 *
 * Shape:
 * {{{
 * events_rfm:
 *   user_col: user_id
 *   ts_col: ts
 *   value_col: value
 *   n_tiles: 5                    # optional, default 5
 * }}}
 */
final case class EventsRfmConfig(
    userCol: String, tsCol: String, valueCol: String, nTiles: Int = 5) {
  require(nTiles >= 2, "n_tiles must be >= 2")
}

object EventsRfmConfig {
  def fromYaml(yaml: String): EventsRfmConfig = {
    val cfg = EventsYaml.only(EventsYaml.root(yaml, "events_rfm", "events rfm"),
      "events_rfm", "user_col", "ts_col", "value_col", "n_tiles")
    EventsRfmConfig(
      userCol = cfg.getOrElse("user_col", "user_id").toString,
      tsCol = cfg.getOrElse("ts_col", "ts").toString,
      valueCol = cfg.getOrElse("value_col", "value").toString,
      nTiles = cfg.getOrElse("n_tiles", "5").toString.toInt)
  }
}
