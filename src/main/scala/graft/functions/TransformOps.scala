package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/**
 * Transform-op registry: op string -> columnar rewrite.
 *
 * Re-expresses the reference's per-row transform dispatch
 * (reference: plugins/default_transform.py:19-39) as pure `Column`
 * rewrites so every op stays inside whole-stage codegen — no UDFs, no
 * per-row Python. Ops are type-aware because the reference guards with
 * `isinstance(val, str)`: a string op applied to a non-string column is
 * the identity, exactly like the reference.
 *
 * Extensible at runtime (the reference's site-plugin surface,
 * reference: core/plugin_registry.py:28-49): `TransformOps.register`.
 */
object TransformOps {

  /** An op sees the column AND its static type (replaces `isinstance` checks). */
  type Op = (Column, DataType) => Column

  private val registry = new ConcurrentHashMap[String, Op]()

  def register(name: String, op: Op): Unit = registry.put(name, op)
  def registered: Set[String] = registry.keySet().asScala.toSet

  private def ifString(f: Column => Column): Op =
    (c, dt) => if (dt == StringType) f(c) else c

  // --- built-ins -----------------------------------------------------------
  // strip/upper/lower: reference plugins/default_transform.py:21-25.
  // Python str.strip() removes ALL whitespace (tabs/newlines too); Spark's
  // trim() removes spaces only — so `strip` compiles to a regex strip.
  register("strip", ifString(regexp_replace(_, "^\\s+|\\s+$", "")))
  register("trim", ifString(trim(_)))
  // All three map case through the one graft kernel (CaseMapping), not
  // Spark's lower/upper, whose first call per JVM builds a title-case table.
  register("upper", ifString(CaseMapping.graftUpper))
  register("lower", ifString(CaseMapping.graftLower))
  // capitalize: Python str.capitalize (first char title-cased, rest LOWER) —
  // named in the reference's example config (config/tables/table_example.yaml:30).
  register("capitalize", ifString(CaseMapping.graftCapitalize))
  // initcap variant for callers who want word-capitalization (Spark's InitCap)
  register("initcap", ifString(initcap(_)))
  // to_int / to_date: named-but-site-provided in the reference
  // (config/tables/table_example.yaml:30,54); permissive cast (invalid -> null).
  register("to_int", (c, _) => c.cast(LongType))
  register("to_date", (c, dt) => dt match {
    case DateType => c
    case TimestampType | TimestampNTZType => to_date(c)
    case _ => to_date(c.cast(StringType))
  })
  register("to_double", (c, _) => c.cast(DoubleType))
  register("to_string", (c, _) => c.cast(StringType))

  /** Snapshot of the ops `default_transform` owns, taken before any
    * plugin install can add to (or overwrite entries of) the registry —
    * scoped resolution dispatches builtin names through THIS map, never
    * the mutable registry, so an unchained plugin overriding a builtin
    * name can neither shadow nor replace the builtin. */
  val builtinOps: Map[String, Op] = registry.asScala.toMap
  val builtinOpNames: Set[String] = builtinOps.keySet

  /**
   * The Y/N->bool op. The reference dispatches on the op string merely
   * CONTAINING "true" or "false" (plugins/default_transform.py:26), so
   * "to_bool"/"truefalse"/"y_n_to_true_false" all hit this path. Semantics
   * (plugins/default_transform.py:27-32): "N" or 0 -> false, "Y" or 1 -> true,
   * else unchanged. Set-at-a-time needs one column type, so "else unchanged"
   * becomes a permissive boolean cast of the residue (Spark's string->boolean
   * cast accepts y/n/t/f/yes/no/0/1), the closest columnar equivalent.
   */
  private def ynBool: Op = (c, dt) => dt match {
    case StringType =>
      when(c === "N", lit(false)).when(c === "Y", lit(true)).otherwise(c.cast(BooleanType))
    case BooleanType => c
    case _: NumericType =>
      when(c === 0, lit(false)).when(c === 1, lit(true)).otherwise(c.cast(BooleanType))
    case _ => c
  }

  /** Apply one op by name; unknown ops are a logged no-op
    * (reference: plugins/default_transform.py:38-39). */
  def apply(op: String, col: Column, dt: DataType): Column = {
    val trimmed = op.trim
    registry.asScala.get(trimmed) match {
      case Some(f) => f(col, dt)
      case None if trimmed.startsWith("insert:") =>
        // constant injection, insert:null -> NULL (plugins/default_transform.py:33-37)
        val v = trimmed.split(":", 2)(1)
        if (v == "null") lit(null).cast(StringType) else lit(v)
      case None if trimmed.contains("true") || trimmed.contains("false") =>
        ynBool(col, dt)
      case None => col // unknown op: identity, like the reference's debug-log-and-skip
    }
  }

  /** Static result type of an op chain (needed to thread type-awareness). */
  def resultType(op: String, dt: DataType): DataType = {
    val t = op.trim
    t match {
      case "to_int" => LongType
      case "to_date" => DateType
      case "to_double" => DoubleType
      case "to_string" => StringType
      case _ if t.startsWith("insert:") => StringType
      case _ if !registry.containsKey(t) && (t.contains("true") || t.contains("false")) =>
        dt match {
          case StringType | BooleanType => BooleanType
          case _: NumericType => BooleanType
          case other => other
        }
      case _ => dt
    }
  }

  /** Left-fold an op chain over a column (reference: ordered op list,
    * mappings/parser.py:71-75 + plugins/default_transform.py:19). */
  def chain(ops: Seq[String], col: Column, dt: DataType): Column =
    ops.foldLeft((col, dt)) { case ((c, t), op) =>
      (apply(op, c, t), resultType(op, t))
    }._1

  /**
   * Config-scoped op resolution (reference: pipeline.py:27-61 dispatches
   * rows through the CONFIGURED transform-plugin chain, not through
   * every registered plugin):
   *  - `ops`: the name->op map built by walking the chain IN ORDER with
   *    first-definition-wins — `default_transform`'s position contributes
   *    [[builtinOps]] at that position, so a plugin earlier in the chain
   *    beats a builtin name and vice versa (the reference's
   *    first-plugin-that-claims-it semantics);
   *  - `builtinClaimed`: the names `default_transform` won — these keep
   *    the builtin result-type rules (to_int -> long etc.);
   *  - `builtin`: whether `default_transform` is in the chain at all — it
   *    also owns the `insert:` / true-false / unknown-op dispatch
   *    (plugins/default_transform.py:21-39);
   *  - `shadowed`: op names owned by registered-but-unchained plugins —
   *    these must NOT leak in via the global registry; they resolve to
   *    identity exactly like an unknown op.
   */
  final case class Scope(ops: Map[String, Op], builtinClaimed: Set[String],
                         builtin: Boolean, shadowed: Set[String]) {
    def applyOp(op: String, col: Column, dt: DataType): Column = {
      val t = op.trim
      ops.get(t) match {
        case Some(f) => f(col, dt)
        case None if shadowed(t) => col // owning plugin not in chain: identity
        case None if builtin => TransformOps(t, col, dt) // insert:/ynbool/unknown dispatch
        case None => col // no default_transform in chain: nothing claims it
      }
    }
    def resultTypeOf(op: String, dt: DataType): DataType = {
      val t = op.trim
      if (builtinClaimed(t)) resultType(t, dt)
      else if (ops.contains(t)) dt // custom op: type statically unknown -> unchanged
      else if (shadowed(t)) dt
      else if (builtin) resultType(t, dt)
      else dt
    }
  }

  def chainScoped(ops: Seq[String], col: Column, dt: DataType, scope: Scope): Column =
    ops.foldLeft((col, dt)) { case ((c, t), op) =>
      (scope.applyOp(op, c, t), scope.resultTypeOf(op, t))
    }._1
}
