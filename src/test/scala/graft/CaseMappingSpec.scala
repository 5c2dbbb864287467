package graft

import graft.functions.CaseMapping
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Lower, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * The graft case-mapping kernel against Spark's own `lower`/`upper`
 * (ICU case mappings, the default): the same bytes out for every input
 * on both the interpreted and the generated-code path. Sampling is
 * seeded, so a failure is a real counterexample.
 */
class CaseMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Hand-picked hard cases: ASCII, Latin-1, the final sigma, dotted and
    * dotless i, sharp s, a ligature, a digraph, astral letters,
    * combining marks, malformed UTF-8, the empty string and NULL. */
  private val fixed: Seq[UTF8String] = Seq(
    "Hello, World 42", "ÀÉÎõüÿ çÇ", "ΟΔΟΣ", "ΟΔΟΣ ΟΔΟΣ.", "İstanbul", "ıi", "straße",
    "ﬁsh ﬂow", "ǅemal ǆ Ǆ", "𐐀𐐨 𝔄", "é Ä ǰ̣", "").map(utf8) ++
    Seq(Array(0xC3, 0x28), Array(0x41, 0xFF, 0x62), Array(0xE2, 0x82), Array(0xF0, 0x90, 0x90))
      .map(b => UTF8String.fromBytes(b.map(_.toByte))) :+ null

  private val codePoints: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(0x20, 0x7E),
    2 -> Gen.choose(0xA0, 0x24F),
    2 -> Gen.choose(0x370, 0x52F),
    1 -> Gen.oneOf(0x130, 0x131, 0xDF, 0xFB01, 0x1C4, 0x1C5, 0x1C6, 0x3A3, 0x301, 0x308,
      0x10400, 0x10428, 0x1E9E, 0x2126),
    1 -> Gen.choose(0x1E00, 0x1FFF))
  private lazy val sampled: Seq[UTF8String] = Iterator.from(0)
    .flatMap(i => Gen.listOf(codePoints)(Gen.Parameters.default, Seed(7L + i)))
    .take(300)
    .map(cps => utf8(new String(cps.toArray, 0, cps.size)))
    .toSeq

  test("graft_lower/graft_upper equal Spark's ICU lower/upper, interpreted and codegen") {
    assert(SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED),
      "the reference is Spark's default ICU path")
    val in = BoundReference(0, StringType, nullable = true)
    val exprs: Seq[Expression] = Seq(CaseMapping(in, "lower"), Lower(in),
      CaseMapping(in, "upper"), Upper(in))
    val paths = Seq(
      "interpreted" -> InterpretedUnsafeProjection.createProjection(exprs),
      "codegen" -> GenerateUnsafeProjection.generate(exprs))
    for ((path, proj) <- paths; s <- fixed ++ sampled) {
      val out = proj(InternalRow(s))
      def at(i: Int): UTF8String = if (out.isNullAt(i)) null else out.getUTF8String(i).clone()
      assert(at(0) == at(1), s"$path lower of '$s'")
      assert(at(2) == at(3), s"$path upper of '$s'")
    }
  }

  test("input other than the default string type fails analysis, naming the type") {
    val df = Seq((1, "x")).toDF("n", "s")
    val e = intercept[AnalysisException](df.select(CaseMapping.graftLower(col("n"))).collect())
    assert(e.getMessage.contains("graft_lower") && e.getMessage.contains("int"), e.getMessage)
    val lcase = df.select(col("s").cast("string collate UTF8_LCASE").as("s"))
    val e2 = intercept[AnalysisException](lcase.select(CaseMapping.graftUpper(col("s"))).collect())
    assert(e2.getMessage.contains("UTF8_LCASE"), e2.getMessage)
  }
}
