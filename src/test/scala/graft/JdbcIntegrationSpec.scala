package graft

import graft.sinks.JdbcSink
import graft.sources.{JdbcPartitioning, JdbcSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * LIVE JDBC coverage via embedded Derby (on the Spark classpath) —
 * exercises the production code paths the parquet harness can't:
 * real scans, verbatim where-push, range-partitioned reads with
 * auto-probed bounds, truncate/append writes, the generic statement
 * executor, the ANSI self-lookup fixup, and connectivity probes.
 * Derby quirks covered on purpose: no FROM-less SELECT (probes must be
 * `Connection.isValid`), CLOB columns can't be compared (writes use
 * `createTableColumnTypes`), unquoted identifiers fold to UPPERCASE.
 */
class JdbcIntegrationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  private val url = "jdbc:derby:memory:graftit;create=true"
  private val src = JdbcSource(spark, url, "", "",
    partitioning = Map("evts" -> JdbcPartitioning("id", numPartitions = 4)))
  private val sink = JdbcSink(url, "", "",
    createTableColumnTypes = Some("code VARCHAR(32), val VARCHAR(32)"))

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  // one source table for the scan tests (unquoted DDL -> uppercase names)
  exec("CREATE TABLE evts (id INT, label VARCHAR(20))")
  (0 until 40).foreach(i => exec(s"INSERT INTO evts VALUES ($i, 'row$i')"))

  test("connectivity probes succeed without dialect-specific SQL") {
    src.checkConnectivity()
    sink.checkConnectivity()
  }

  test("table() reads a live JDBC table") {
    assert(src.table("evts").count() == 40)
  }

  test("scan pushes the where string verbatim and reports it pushed") {
    val (df, pushed) = src.scan("evts", Some("ID < 10"))
    assert(pushed)
    assert(df.count() == 10)
    // the filter ran source-side: the frame has no Catalyst Filter to apply
    assert(df.select(max(col("ID"))).head().getInt(0) == 9)
  }

  test("configured table scans arrive range-partitioned with auto-probed bounds") {
    val (df, _) = src.scan("evts", None)
    assert(df.rdd.getNumPartitions == 4, "reader must receive the partition options")
    assert(df.count() == 40)
    // partitioned + where-pushed compose
    val (dfw, pushed) = src.scan("evts", Some("ID >= 20"))
    assert(pushed && dfw.count() == 20)
    assert(dfw.rdd.getNumPartitions == 4)
  }

  test("probed bounds split rows across partitions without loss or overlap") {
    // the 100 TB claim behind JdbcPartitioning: the probe must yield
    // bounds that actually spread the table — ids 0..39 over 4 range
    // partitions means 10 rows in each, 40 exactly once in total
    val (df, _) = src.scan("evts", None)
    // Spark's stride arithmetic is near-balanced, not exact — the
    // contract is every partition non-empty and none dominating
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 4 && perPart.forall(n => n > 0 && n <= 20),
      s"probed bounds must spread the scan, got ${perPart.toSeq}")
    assert(df.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 40), "range partitioning must neither lose nor duplicate rows")
  }

  test("degenerate bounds: empty configured table falls back to one partition") {
    exec("CREATE TABLE evts_empty (id INT, label VARCHAR(20))")
    val s2 = JdbcSource(spark, url, "", "",
      partitioning = Map("evts_empty" -> JdbcPartitioning("id", numPartitions = 4)))
    val (df, _) = s2.scan("evts_empty", None)
    assert(df.rdd.getNumPartitions == 1 && df.count() == 0,
      "probeBounds returns None on an empty relation; the scan must not split")
  }

  test("degenerate bounds: single-valued partition column still reads every row") {
    exec("CREATE TABLE evts_const (id INT, label VARCHAR(20))")
    (0 until 7).foreach(i => exec(s"INSERT INTO evts_const VALUES (5, 'r$i')"))
    val s2 = JdbcSource(spark, url, "", "",
      partitioning = Map("evts_const" -> JdbcPartitioning("id", numPartitions = 4)))
    val (df, _) = s2.scan("evts_const", None)
    assert(df.count() == 7, "lo == hi bounds must not drop rows")
  }

  test("unconfigured tables fall back to a single-partition read") {
    exec("CREATE TABLE small (id INT)")
    exec("INSERT INTO small VALUES (1)")
    val (df, _) = src.scan("small", None)
    assert(df.rdd.getNumPartitions == 1 && df.count() == 1)
  }

  test("sink write truncates on rewrite and appends in append mode") {
    import spark.implicits._
    val df = Seq(("a", "1"), ("b", "2")).toDF("code", "val")
    sink.write("tgt", df)
    assert(src.table("tgt").count() == 2)
    sink.write("tgt", df) // truncate mode: NOT 4 rows
    assert(src.table("tgt").count() == 2)
    sink.copy(truncate = false).write("tgt", df)
    assert(src.table("tgt").count() == 4)
  }

  test("readBack resolves the written TARGET table") {
    import spark.implicits._
    sink.write("rb", Seq(("x", "9")).toDF("code", "val"))
    val back = sink.readBack("rb").get
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("x", "9")))
  }

  test("selfLookupFixup rewrites codes to values via the ANSI correlated UPDATE") {
    import spark.implicits._
    // code column initially holds KEYS of other rows; the fixup resolves
    // them target-side: SET code = s.val WHERE s.code(key) = target.code.
    // The NULL-val row goes in via plain SQL (Derby's dialect maps Spark's
    // StringType NULL setter to CLOB, clashing with the VARCHAR override —
    // and it exercises execute() against a Spark-written table).
    sink.write("fixup", Seq(("k1", "payload1"), ("k2", "payload2")).toDF("code", "val"))
    sink.execute("INSERT INTO fixup VALUES ('k1', NULL)")
    sink.selfLookupFixup("fixup", "code", "code", "val")
    val out = src.table("fixup").select("code").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("payload1", "payload1", "payload2"))
  }

  test("restart-identity preLoad truncates via the dialect fallback and ignores missing tables") {
    import spark.implicits._
    val ri = sink.copy(restartIdentity = true)
    // Derby rejects RESTART IDENTITY syntax -> preLoad must fall back to
    // the plain TRUNCATE and still empty the table
    ri.write("ri_tgt", Seq(("a", "1")).toDF("code", "val"))
    ri.preLoad("ri_tgt")
    assert(src.table("ri_tgt").count() == 0)
    ri.preLoad("ri_absent") // first run: table not created yet — no throw
  }

  test("probeBounds rejects a non-identifier partition column before touching SQL") {
    val bad = JdbcSource(spark, url, "", "",
      partitioning = Map("evts" -> JdbcPartitioning("id; DROP TABLE evts")))
    val e = intercept[IllegalArgumentException] { bad.scan("evts", None) }
    assert(e.getMessage.contains("partition column"))
    assert(src.table("evts").count() == 40) // nothing executed
  }

  test("generic statement executor runs DDL the DataFrame writer cannot") {
    sink.execute("CREATE TABLE ddl_only (n INT)")
    sink.execute("INSERT INTO ddl_only VALUES (7)")
    assert(src.table("ddl_only").head().getInt(0) == 7)
  }

  test("cross-schema migrate honors source_schema and target_schema from YAML") {
    import graft.config._
    // two non-default schemas on the live database: the migration must
    // read x-side and land y-side, never touching the default schema
    exec("CREATE SCHEMA xsrc")
    exec("CREATE SCHEMA ytgt")
    exec("CREATE TABLE xsrc.people (pid INT, pname VARCHAR(20))")
    Seq((1, "ada"), (2, "grace"), (3, "edsger"))
      .foreach { case (i, n) => exec(s"INSERT INTO xsrc.people VALUES ($i, '$n')") }

    val tcfg = YamlConfig.tableFromYaml(
      """source_table: people
        |source_schema: xsrc
        |target_table: folks
        |target_schema: ytgt
        |mappings:
        |  - source: pid
        |    target: id
        |  - source: pname
        |    target: name
        |    transform: upper
        |""".stripMargin)
    val report = Engine.migrate(
      EtlConfig(GlobalConfig(), List(tcfg)), src,
      JdbcSink(url, "", "", createTableColumnTypes = Some("name VARCHAR(20)")))
    assert(report.totalRows == 3L)
    // landed in ytgt.folks...
    val out = src.table("ytgt.folks").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "ADA", 2 -> "GRACE", 3 -> "EDSGER"))
    // ...and NOT in the default schema
    assert(src.tableOpt("folks").isEmpty, "bare-name write would ignore target_schema")
    // a partitioned read keyed by the qualified relation also resolves
    val qsrc = JdbcSource(spark, url, "", "",
      partitioning = Map("xsrc.people" -> JdbcPartitioning("pid", numPartitions = 2)))
    val (pdf, _) = qsrc.scan("xsrc.people", None)
    assert(pdf.rdd.getNumPartitions == 2 && pdf.count() == 3)
  }

  test("schema-qualified JDBC target + parquet quarantine flattens the rejects name") {
    import graft.config._
    // a JDBC target in a non-default schema combined with a parquet
    // quarantine: the rejects must land under a flattened name instead
    // of crashing on the dotted table AFTER the main write committed
    exec("CREATE SCHEMA qtgt")
    exec("CREATE TABLE q_src (id INT, code VARCHAR(8))")
    Seq((1, "ok"), (2, "BAD"), (3, "zz"))
      .foreach { case (i, c) => exec(s"INSERT INTO q_src VALUES ($i, '$c')") }
    val qdir = java.nio.file.Files.createTempDirectory("jdbc_quar").toString
    val cfg = EtlConfig(GlobalConfig(), List(
      TableConfig(sourceTable = "q_src", targetTable = "qrows", targetSchema = "qtgt",
        mappings = List(
          MappingRule(source = Some("id"), target = Some("id")),
          MappingRule(source = Some("code"), target = Some("code"), validation =
            List(ValidationRule("regex", pattern = Some("[a-z]+$"), onFail = Some("skip"))))))))
    val report = Engine.migrate(cfg, src,
      JdbcSink(url, "", "", createTableColumnTypes = Some("code VARCHAR(8)")),
      quarantine = Some(graft.sinks.ParquetSink(qdir)))
    assert(report.tables.head.rows == 2L && report.tables.head.skippedRows == 1L)
    assert(src.table("qtgt.qrows").count() == 2)
    val rejects = spark.read.parquet(s"$qdir/qtgt__qrows_rejects.parquet").collect()
    assert(rejects.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("dialect type-mapping matrix: decimal/timestamp/date/varchar/binary round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the sandbox proxy for Oracle NUMBER(p,s) / PG type quirks
    // (reference mappings/parser.py + plugins/default_loader.py:49-74):
    // exact numerics and temporals must survive write -> readBack with
    // their declared precision, via the createTableColumnTypes escape
    // hatch where the dialect default (CLOB for strings) breaks
    val tsink = sink.copy(createTableColumnTypes = Some(
      "amt DECIMAL(12,2), label VARCHAR(16)"))
    val df = Seq(
      (1, BigDecimal("1234567890.12"), java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"),
        java.sql.Date.valueOf("2026-01-02"), "alpha", "alpha".getBytes("UTF-8")),
      (2, BigDecimal("-0.01"), java.sql.Timestamp.valueOf("1999-12-31 23:59:59"),
        java.sql.Date.valueOf("1970-01-01"), "beta", Array[Byte](0, 127, -128))
    ).toDF("id", "amt", "ts", "d", "label", "payload")
      .withColumn("amt", col("amt").cast(DecimalType(12, 2)))
    tsink.write("typemat", df)
    val back = tsink.readBack("typemat").get.orderBy("id")
    val sch = back.schema.map(f => f.name.toLowerCase -> f.dataType).toMap
    assert(sch("amt") == DecimalType(12, 2), s"decimal mapping lost precision: ${sch("amt")}")
    assert(sch("ts") == TimestampType && sch("d") == DateType)
    assert(sch("label") == StringType && sch("payload") == BinaryType)
    val rows = back.collect()
    assert(rows(0).getDecimal(1) == new java.math.BigDecimal("1234567890.12"))
    assert(rows(1).getDecimal(1) == new java.math.BigDecimal("-0.01"))
    // Derby TIMESTAMP keeps sub-second precision (micros survive)
    assert(rows(0).getTimestamp(2) == java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"))
    assert(rows(0).getDate(3) == java.sql.Date.valueOf("2026-01-02"))
    assert(rows(1).getString(4) == "beta")
    assert(rows(1).getAs[Array[Byte]](5).sameElements(Array[Byte](0, 127, -128)))
  }

  test("Engine.migrate runs end-to-end over a live JDBC source AND sink") {
    import graft.config._
    exec("CREATE TABLE src_dept (dcode VARCHAR(8), dname VARCHAR(32))")
    Seq(("E", "engineering"), ("S", "sales"), ("F", "finance"))
      .foreach { case (c, n) => exec(s"INSERT INTO src_dept VALUES ('$c', '$n')") }
    exec("CREATE TABLE src_emp (eid INT, dept VARCHAR(8))")
    (1 to 5).foreach(i => exec(s"INSERT INTO src_emp VALUES ($i, '${Seq("E", "S", "F")(i % 3)}')"))
    exec("INSERT INTO src_emp VALUES (6, 'X')") // unknown dept -> on_missing null

    val jdbcCatalog = JdbcSource(spark, url, "", "",
      partitioning = Map("src_emp" -> JdbcPartitioning("eid", numPartitions = 3)))
    val cfg = EtlConfig(GlobalConfig(), List(
      // deliberately listed dependent-first: the scheduler must reorder
      TableConfig(sourceTable = "src_emp", targetTable = "fact_emp",
        mappings = List(
          MappingRule(source = Some("eid"), target = Some("id")),
          MappingRule(source = Some("dept"), target = Some("dept_name"),
            lookup = Some(LookupConfig("dim_dept", "code", Some("name"), Some("null")))))),
      TableConfig(sourceTable = "src_dept", targetTable = "dim_dept",
        mappings = List(
          MappingRule(source = Some("dcode"), target = Some("code")),
          MappingRule(source = Some("dname"), target = Some("name"), transform = List("upper"))))))

    val report = Engine.migrate(cfg, jdbcCatalog, JdbcSink(url, "", ""))
    assert(report.tables.map(_.table) == Seq("dim_dept", "fact_emp")) // dependency order
    assert(report.totalRows == 9L)
    val emp = src.table("fact_emp").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    // dept_name resolved against the WRITTEN target (post-transform names)
    assert(emp(1) == Some("SALES") && emp(3) == Some("ENGINEERING"))
    assert(emp(6).isEmpty) // unknown key -> on_missing null
  }

  test("upsert: keyed delete+insert is idempotent and last-write-wins") {
    import spark.implicits._
    exec("""CREATE TABLE ups ("k" INT, "v" VARCHAR(20))""")
    val s = JdbcSink(url, "", "")
    def state(): Map[Int, String] =
      spark.read.format("jdbc").option("url", url).option("dbtable", "ups")
        .load().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    s.upsert("ups", Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    assert(state() == Map(1 -> "a", 2 -> "b"))
    // overlapping batch: key 2 updates, key 3 inserts
    val b2 = Seq((2, "B"), (3, "c")).toDF("k", "v")
    s.upsert("ups", b2, Seq("k"))
    assert(state() == Map(1 -> "a", 2 -> "B", 3 -> "c"))
    // REPLAY of the same batch (failure recovery) changes nothing
    s.upsert("ups", b2, Seq("k"))
    assert(state() == Map(1 -> "a", 2 -> "B", 3 -> "c"),
      "a replayed micro-batch must converge, not duplicate")
  }

  test("upsert: a partition failing mid-batch rolls back, leaving the table as it was") {
    import spark.implicits._
    exec("""CREATE TABLE upsnn ("k" INT NOT NULL, "v" VARCHAR(20) NOT NULL)""")
    // batchSize 1 flushes each row's delete+insert before the next row,
    // so the NOT NULL violation lands after earlier rows were applied
    val s = JdbcSink(url, "", "", batchSize = 1)
    def state(): Map[Int, String] =
      spark.read.format("jdbc").option("url", url).option("dbtable", "upsnn")
        .load().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    s.upsert("upsnn", Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    val bad = Seq[(Int, String)]((1, "A"), (2, "B"), (3, null)).toDF("k", "v")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1") // all three rows in one partition
    try intercept[org.apache.spark.SparkException](s.upsert("upsnn", bad, Seq("k")))
    finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert(state() == Map(1 -> "a", 2 -> "b"), "the failed partition's updates were rolled back")
  }

  test("streamingCdcUpsert: deletes, updates and inserts land per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    exec("""CREATE TABLE cdct ("k" INT, "v" VARCHAR(20))""")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, java.sql.Timestamp, Long, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    val q = graft.streaming.StreamingOps.streamingCdcUpsert(
      mem.toDF().toDF("k", "ts", "tie", "op", "v"), JdbcSink(url, "", ""),
      "cdct", Seq("k"), "ts", "op", "tie", ckpt)
    mem.addData((1, ts("2024-01-01 00:00:01"), 1L, "U", "a"),
      (2, ts("2024-01-01 00:00:01"), 2L, "U", "b"))
    q.processAllAvailable()
    // batch 2: update 1, delete 2, insert 3, and key 4 is inserted
    // then deleted WITHIN the batch (later ts wins -> absent)
    mem.addData((1, ts("2024-01-01 00:01:00"), 3L, "U", "a2"),
      (2, ts("2024-01-01 00:01:00"), 4L, "D", "x"),
      (3, ts("2024-01-01 00:01:00"), 5L, "U", "c"),
      (4, ts("2024-01-01 00:01:00"), 6L, "U", "ghost"),
      (4, ts("2024-01-01 00:02:00"), 7L, "D", "ghost"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "cdct").load().collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a2", 3 -> "c"),
      "update applied, delete removed, insert landed, in-batch " +
        "insert+delete resolved by event time")
  }

  test("streamingJdbcUpsert: micro-batches land exactly-once-effects via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    exec("""CREATE TABLE sups ("k" INT, "v" VARCHAR(20))""")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
    val q = graft.streaming.StreamingOps.streamingJdbcUpsert(
      mem.toDF().toDF("k", "v"), JdbcSink(url, "", ""), "sups", Seq("k"), ckpt)
    mem.addData((1, "a"), (2, "b"))
    q.processAllAvailable()
    mem.addData((2, "B2"), (3, "c")) // second batch overwrites key 2
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "sups").load().collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a", 2 -> "B2", 3 -> "c"))
  }
}
