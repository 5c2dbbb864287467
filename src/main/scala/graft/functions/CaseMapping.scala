package graft.functions

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.text.CaseMap
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Unicode case mapping — `graft_lower`, `graft_upper` and
 * `graft_capitalize` — the one kernel every graft case mapping goes
 * through.
 *
 * Why not Spark's `lower`/`upper`: under the default
 * `spark.sql.icu.caseMappings.enabled`, Spark 4.1 maps every
 * UTF8_BINARY row through `CollationAwareUTF8String`, whose static
 * initializer (`CollationAwareUTF8String.<clinit>`) builds a
 * one-to-many title-case lookup table by calling ICU `toTitleCase` on
 * every code point. Only `initcap` ever reads that table, yet the first
 * `lower`/`upper` in a JVM pays for it: ~1.4 s on one executor thread
 * (a JFR profile of a cold `migrate_jdbc` pass on 4 cores). Per row
 * this kernel does exactly the work of Spark's default path —
 * `isFullAscii ? toLowerCaseAscii : ICU toLowerCase(toValidString)`,
 * and the same for upper — so warm plans run as before and cold ones
 * skip the table build.
 *
 * Locale: pinned to ICU's root locale, so `İ`/`ı` and the final sigma
 * map alike on every JVM, whatever its default locale (the reference's
 * Python `str.lower`/`upper` ignore locale too). Spark's path takes
 * the JVM default; on a root or English JVM the two agree.
 *
 * `capitalize` is Python ≥ 3.8 `str.capitalize`: the first code point
 * takes its full Unicode title-case mapping (`ǆ` → `ǅ`, `ß` → `Ss`,
 * `ﬁ` → `Fi`) and the rest is lower-cased — ICU title case over the
 * whole string as one segment, with no break adjustment and no
 * word-break iterator. The `initcap` transform op keeps Spark's
 * `InitCap` (one capital per word) and so pays the table build once
 * per JVM when a config uses it.
 *
 * Input: the default STRING type only — a collated string carries its
 * own case rules — so anything else fails analysis, naming its type.
 */
case class CaseMapping(child: Expression, mapping: String) extends UnaryExpression {
  require(CaseMapping.Mappings.contains(mapping), s"unknown case mapping '$mapping'")

  @transient private lazy val fn: UTF8String => UTF8String = mapping match {
    case "lower" => CaseMapping.lower
    case "upper" => CaseMapping.upper
    case "capitalize" => CaseMapping.capitalize
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = s"graft_$mapping"
  // the mapping is in the name; render graft_lower(x), not graft_lower(x, lower)
  override def flatArguments: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(input: Any): Any = fn(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CaseMapping$$.MODULE$$.$mapping($c);")

  override protected def withNewChildInternal(newChild: Expression): CaseMapping =
    copy(child = newChild)
}

object CaseMapping {
  val Mappings: Set[String] = Set("lower", "upper", "capitalize")

  private val title = CaseMap.toTitle().wholeString().noBreakAdjustment()

  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(ULocale.ROOT, s.toValidString))

  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(ULocale.ROOT, s.toValidString))

  def capitalize(s: UTF8String): UTF8String =
    if (s.isFullAscii) {
      val b = new Array[Byte](s.numBytes)
      s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
      var i = 0
      while (i < b.length) {
        if (b(i) >= 'A' && b(i) <= 'Z') b(i) = (b(i) + 32).toByte
        i += 1
      }
      if (b.nonEmpty && b(0) >= 'a' && b(0) <= 'z') b(0) = (b(0) - 32).toByte
      UTF8String.fromBytes(b)
    } else UTF8String.fromString(
      title.apply(java.util.Locale.ROOT, null, s.toValidString))

  private def of(c: Column, mapping: String): Column =
    GraftColumnBridge.column(CaseMapping(GraftColumnBridge.expression(c), mapping))

  /** `c` lower-cased (NULL → NULL). */
  def graftLower(c: Column): Column = of(c, "lower")
  /** `c` upper-cased (NULL → NULL). */
  def graftUpper(c: Column): Column = of(c, "upper")
  /** Python `str.capitalize` of `c` (NULL → NULL). */
  def graftCapitalize(c: Column): Column = of(c, "capitalize")
}
