package graft

import graft.functions.TransformOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class TransformOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def evalStr(op: String, in: String): Any =
    Seq(in).toDF("v").select(TransformOps(op, col("v"), StringType)).collect().head.get(0)

  test("strip removes all whitespace incl tabs/newlines (Python str.strip)") {
    assert(evalStr("strip", "\t  hi there \n") == "hi there")
  }
  test("trim removes spaces only") {
    assert(evalStr("trim", "  x  ") == "x")
  }
  test("upper / lower") {
    assert(evalStr("upper", "aBc") == "ABC")
    assert(evalStr("lower", "aBc") == "abc")
  }
  test("capitalize is Python str.capitalize: first upper, REST LOWER") {
    assert(evalStr("capitalize", "bUILDING") == "Building")
    // Python >= 3.8: the first character takes its full title-case
    // mapping, the rest is lower-cased (final sigma included)
    assert(evalStr("capitalize", "ǆemal") == "ǅemal")
    assert(evalStr("capitalize", "ßa") == "Ssa")
    assert(evalStr("capitalize", "ﬁsh") == "Fish")
    assert(evalStr("capitalize", "ΟΔΟΣ") == "Οδος")
    assert(evalStr("capitalize", "ΑΣ") == "Ας")
    assert(evalStr("capitalize", "𐐨𐐀x") == "𐐀𐐨x")
    assert(evalStr("capitalize", "áB") == "Áb")
    // no break adjustment: a leading non-letter is the "first character"
    assert(evalStr("capitalize", "'hELLO") == "'hello")
    assert(evalStr("capitalize", "1ABC") == "1abc")
    assert(evalStr("capitalize", "") == "")
  }
  test("capitalize passes null through") {
    assert(Seq[String](null).toDF("v")
      .select(TransformOps("capitalize", col("v"), StringType)).collect().head.isNullAt(0))
  }
  test("migration and chat fingerprint plans hold no Catalyst Lower, Upper or InitCap") {
    import graft.config.{MappingRule, TableConfig}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
    def caseNodes(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e.prettyName
      })
    def rule(src: String, tgt: String, op: String) =
      MappingRule(source = Some(src), target = Some(tgt), transform = List(op))
    val source = Seq((1, "bUILDING", "Ab", "Cd")).toDF("id", "seg", "lo", "up")
    val cfg = TableConfig(sourceTable = "s", targetTable = "t", mappings = List(
      MappingRule(source = Some("id"), target = Some("id")),
      rule("seg", "seg", "capitalize"), rule("lo", "lo", "lower"), rule("up", "up", "upper")))
    val migrated = graft.plans.MigrationCompiler.compile(cfg, source, _ => None).dataFrame
    assert(caseNodes(migrated).isEmpty, caseNodes(migrated))
    assert(migrated.collect().head.toSeq == Seq(1, "Building", "ab", "CD"))

    val convs = Seq((1L, "Q", "Use MERGE  sort"), (2L, "q", "use merge sort"))
      .toDF("id", "u", "a")
      .select(col("id"), array(
        struct(lit("user").as("role"), col("u").as("content")),
        struct(lit("assistant").as("role"), col("a").as("content"))).as("conv"))
    val fingerprint = convs.select(graft.operators.Chat.assistantNorm("conv").as("fp"))
    assert(caseNodes(fingerprint).isEmpty, caseNodes(fingerprint))
    assert(fingerprint.as[String].collect().toSet == Set("use merge sort"))
    val deduped = graft.operators.Chat.dedupByAssistant(convs, "id", "conv")
    assert(caseNodes(deduped).isEmpty, caseNodes(deduped))
    assert(deduped.select("id").as[Long].collect().toSeq == Seq(1L))
  }
  test("initcap word-capitalizes") {
    assert(evalStr("initcap", "john smith") == "John Smith")
  }
  test("to_int is a permissive cast (invalid -> null)") {
    val out = Seq("42", "x").toDF("v")
      .select(TransformOps("to_int", col("v"), StringType)).collect()
    assert(out(0).getLong(0) == 42L)
    assert(out(1).isNullAt(0))
  }
  test("to_date from string and from timestamp") {
    assert(evalStr("to_date", "2024-03-05").toString == "2024-03-05")
    val ts = Seq(java.sql.Timestamp.valueOf("2024-03-05 10:30:00")).toDF("v")
      .select(TransformOps("to_date", col("v"), TimestampType)).collect().head.get(0)
    assert(ts.toString == "2024-03-05")
  }
  test("insert:VAL injects the constant; insert:null injects NULL") {
    assert(evalStr("insert:loaded", "whatever") == "loaded")
    assert(Seq("x").toDF("v")
      .select(TransformOps("insert:null", col("v"), StringType)).collect().head.isNullAt(0))
  }
  test("Y/N -> bool dispatches on op name merely containing true/false") {
    for (opName <- Seq("to_true_false", "truefalse", "y_n_to_true_false")) {
      val out = Seq("Y", "N").toDF("v")
        .select(TransformOps(opName, col("v"), StringType)).collect()
      assert(out(0).getBoolean(0) === true, opName)
      assert(out(1).getBoolean(0) === false, opName)
    }
  }
  test("Y/N -> bool on numeric 0/1") {
    val out = Seq(1, 0).toDF("v")
      .select(TransformOps("to_true_false", col("v"), IntegerType)).collect()
    assert(out(0).getBoolean(0) === true)
    assert(out(1).getBoolean(0) === false)
  }
  test("unknown op is identity (reference logs+skips)") {
    assert(evalStr("no_such_op", "keep") == "keep")
  }
  test("string op on a non-string column is identity (isinstance guard)") {
    val out = Seq(7).toDF("v")
      .select(TransformOps("upper", col("v"), IntegerType)).collect().head.getInt(0)
    assert(out == 7)
  }
  test("chain applies ops in order") {
    val out = Seq("  bUILDING  ").toDF("v")
      .select(TransformOps.chain(Seq("strip", "capitalize"), col("v"), StringType))
      .collect().head.getString(0)
    assert(out == "Building")
  }
  test("chain threads result types (to_int then to_string)") {
    val out = Seq("12").toDF("v")
      .select(TransformOps.chain(Seq("to_int", "to_string"), col("v"), StringType))
      .collect().head.getString(0)
    assert(out == "12")
  }
  test("register adds a custom op") {
    TransformOps.register("test_rev", (c, dt) => if (dt == StringType) reverse(c) else c)
    assert(evalStr("test_rev", "abc") == "cba")
  }
}
