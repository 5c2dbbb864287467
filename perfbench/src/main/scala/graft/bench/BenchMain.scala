package graft.bench

import graft.Engine
import graft.config.YamlConfig
import graft.sinks.{JdbcSink, ParquetSink}
import graft.sources.JdbcSource
import org.apache.spark.BenchSparkBridge
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * One benchmark run in one JVM: stage the inputs, run one cold pass,
 * one unmeasured warm-up pass, then whole warm passes until the run's
 * seconds are spent; the outputs the checker compares are written by
 * the warm-up (register rows) or after the last pass (migration).
 * Writes `result.json` (and, traced, `spans.jsonl`) into the work dir.
 *
 * Usage: BenchMain --workload W --seed N --seconds S --trace 0|1
 *                  --cpus C --data DIR --work DIR --config FILE [--stage-only]
 */
object BenchMain {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, data: String, work: String, config: String,
                        stageOnly: Boolean)

  val CurateRows: Seq[String] = Seq(
    "q_pipeline_chat_config", "q_dedup_semantic", "q_text_bpe_bytes_pieces")
  /** Set-up is repeated this many times per run; its median is reported. */
  val StageReps = 3
  /** graft.ScaleUp factor of the documents and embeddings the kernels read. */
  val ScaleFactor = 10

  /** Outcome of one pass: operations attempted and failed, and the rows
    * of each operation that did not fail. */
  final case class PassResult(attempted: Int, failed: Int,
                              rows: Map[String, Long], errors: Seq[String])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try run(o)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] run aborted: $e")
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cpus").toInt, need("data"), need("work"), need("config"), args.contains("--stage-only"))
  }

  private def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sessionWatch = new Stopwatch
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the bench session's AQE floor (graft.Bench)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.CapMetrics.install(spark)
    val sessionS = mainS + sessionWatch.seconds
    def phase(name: String): Unit =
      System.err.println(f"[bench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s: $name")
    phase("session ready")

    val tr = new Tracer
    val wl: Workload = o.workload match {
      case "migrate_jdbc" => new MigrateWorkload(spark, o, tr)
      case "curate_llm" => new CurateWorkload(spark, o, tr)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val stageTimes = (0 until StageReps).map { rep =>
      val sw = new Stopwatch
      wl.stage(rep)
      sw.seconds
    }
    wl.afterStaging()
    val stageS = median(stageTimes)
    phase("inputs staged")
    if (o.stageOnly) {
      wl.writeOracleInputs(s"${o.work}/oracle_sql.json")
      spark.stop()
      return 0
    }

    var attempted = 0
    var failed = 0
    val errors = Seq.newBuilder[String]
    val rowsSeen = scala.collection.mutable.Map.empty[String, Set[Long]]
    def account(r: PassResult): PassResult = {
      attempted += r.attempted
      failed += r.failed
      errors ++= r.errors
      r.rows.foreach { case (k, n) => rowsSeen(k) = rowsSeen.getOrElse(k, Set.empty) + n }
      r
    }
    val rnd = new scala.util.Random(o.seed)
    def order(): Seq[String] = rnd.shuffle(wl.ops)

    val probe = new SparkProbe
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = ManagementFactory.getCompilationMXBean

    // cold pass: JIT, codegen and the target tables' DDL are all paid here
    System.gc()
    val jit0 = jit.getTotalCompilationTime
    val firstWatch = new Stopwatch
    account(wl.pass(order()))
    val firstS = firstWatch.seconds
    val jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    phase("cold pass done")
    // unmeasured warm-up pass
    System.gc()
    account(wl.warmUp(order(), s"${o.work}/out"))

    phase("warm-up done")
    val retained = new RetainedHeap
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val plain = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Double]
    val layerSamples = Seq.newBuilder[Map[String, Double]]
    val coverage = Seq.newBuilder[(String, Double)]
    val windowStart = System.nanoTime()
    var p = 0
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    def enough = elapsed >= o.seconds && (if (o.trace) p >= 4 else p >= 1)
    while (!enough) {
      System.gc()
      val isTraced = o.trace && p % 2 == 1
      if (isTraced) {
        BenchSparkBridge.drainListenerBus(spark.sparkContext)
        probe.reset()
        spark.sparkContext.addSparkListener(probe)
      }
      tr.on = isTraced
      val spanFrom = tr.size
      val gc0 = gcMs()
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val sw = new Stopwatch
      retained.on = true
      val r = account(wl.pass(order()))
      retained.on = false
      val passS = sw.seconds
      val wallS = (System.nanoTime() - n0) / 1e9
      val w1 = System.currentTimeMillis()
      val gcS = (gcMs() - gc0) / 1000.0
      tr.on = false
      if (r.failed == 0) (if (isTraced) traced else plain) += passS
      if (isTraced) {
        BenchSparkBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        val snap = probe.snapshot
        val spans = tr.since(spanFrom)
        val (layers, cov) = wl.layers(spans, snap, wallS)
        coverage ++= cov
        layerSamples += layers ++ sparkLayers(snap, w0, w1) + ("jvm.gc_s" -> gcS)
      }
      p += 1
    }
    val peakHeapMb = retained.peakBytes / (1024.0 * 1024.0)
    val poolPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

    phase("measured passes done")
    // per-layer extras that run outside the passes (traced runs only)
    val extras: Map[String, Double] =
      if (o.trace) {
        tr.on = true
        val (m, a, f, errs) = wl.tracedExtras(rnd)
        tr.on = false
        attempted += a; failed += f; errors ++= errs
        m
      } else Map.empty

    // outputs for the checker, after (and outside) every timed window
    val checks = wl.writeOutputs(s"${o.work}/out")
    val inconsistent = rowsSeen.collect { case (k, s) if s.size > 1 => s"$k rows differ between passes: $s" }
    errors ++= inconsistent
    val plainS = plain.result()
    val tracedS = traced.result()

    val perLayer: Map[String, Any] =
      if (!o.trace) Map.empty
      else {
        val samples = layerSamples.result()
        val keys = samples.flatMap(_.keySet).distinct
        val med = keys.map(k => k -> median(samples.map(_.getOrElse(k, 0.0)))).toMap
        val cov = coverage.result()
        med ++ extras ++ Map(
          "setup.session_s" -> sessionS,
          "setup.stage_inputs_s" -> stageS,
          "jvm.jit_s" -> jitS,
          "jvm.heap_pool_peak_mb" -> poolPeakMb,
          "trace.overhead_s" -> (median(tracedS) - median(plainS)),
          "trace.coverage_min" -> (if (cov.isEmpty) 1.0 else cov.map(_._2).min))
      }
    val covFail = coverage.result().filter { case (_, c) => c < 0.95 || c > 1.05 }
    if (o.trace) covFail.foreach { case (op, c) =>
      System.err.println(f"[bench] layer spans cover $c%.3f of operation $op")
    }
    if (o.trace) Files.writeString(Paths.get(s"${o.work}/spans.jsonl"), tr.all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"key":${Json.str(s.key)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""").mkString("", "\n", "\n"))

    val result = Map[String, Any](
      "workload" -> o.workload,
      "seed" -> o.seed,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.result(),
      "coverage_failures" -> covFail.map { case (op, c) => s"$op: $c" },
      "setup_s" -> (sessionS + stageS),
      "first_pass_s" -> firstS,
      "pass_s" -> (if (plainS.isEmpty) -1.0 else median(plainS)),
      "peak_heap_mb" -> peakHeapMb,
      "rows" -> rowsSeen.map { case (k, s) => k -> s.max }.toMap,
      "checks" -> checks,
      "per_layer" -> perLayer)
    Files.writeString(Paths.get(s"${o.work}/result.json"), Json.of(result))
    phase("outputs written")
    spark.stop()
    phase("session stopped")
    0
  }

  /** Scheduler and task figures of one traced pass. */
  private def sparkLayers(s: SparkProbe.Snapshot, fromMs: Long, toMs: Long): Map[String, Double] = {
    val durs = s.tasks.map(_.durationMs / 1000.0).sorted
    Map(
      "spark.jobs" -> s.jobs.size.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.size.toDouble,
      "spark.failed_tasks" -> s.tasks.count(_.failed).toDouble,
      "spark.task_p50_s" -> (if (durs.isEmpty) 0.0 else median(durs)),
      "spark.task_max_s" -> (if (durs.isEmpty) 0.0 else durs.last),
      "spark.busy_s" -> s.tasks.map(_.runMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> s.tasks.map(_.shuffleWriteBytes).sum / (1024.0 * 1024.0),
      "spark.spill_mb" -> s.tasks.map(_.spillBytes).sum / (1024.0 * 1024.0),
      "spark.no_job_s" -> (toMs - fromMs - s.jobCoveredMs(fromMs, toMs)) / 1000.0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Run the full physical plan with the top-level sort stripped, every
    * output column materialised (as graft.Bench forces a query). */
  def force(df: DataFrame): Long =
    GraftColumnBridge.withoutTopLevelSort(df).queryExecution.toRdd.count()

  def withGroup[T](spark: SparkSession, on: Boolean, group: String)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }
}

/** Largest heap in use right after a garbage collection that ran while
  * `on`: the high-water mark of live data, without the young-generation
  * headroom the collector happens to size at the time. */
final class RetainedHeap {
  @volatile var on = false
  @volatile private var peak = 0L
  def peakBytes: Long = peak
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, handback: Any): Unit =
      if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, after) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(listener, null, null))
}

/** Seconds elapsed since construction, less the share of them the
  * hypervisor stole from this VM's virtual CPUs while they had work to
  * run (the `steal` column of /proc/stat). Another tenant's load then
  * does not read as the program's own time; on a machine that reports
  * no stolen time this is the wall time. */
final class Stopwatch {
  private val t0 = System.nanoTime()
  private val c0 = Stopwatch.ticks()
  def stolenShare: Double = {
    val (s1, b1) = Stopwatch.ticks()
    if (b1 > c0._2) (s1 - c0._1).toDouble / (b1 - c0._2) else 0.0
  }
  def seconds: Double = (System.nanoTime() - t0) / 1e9 * (1.0 - stolenShare)
}

object Stopwatch {
  /** (stolen, busy) ticks over all CPUs; busy includes stolen. */
  def ticks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      // user nice system idle iowait irq softirq steal ...
      val t = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (t.length > 7) t(7) else 0L
      (steal, t(0) + t(1) + t(2) + t(5) + t(6) + steal)
    } catch { case NonFatal(_) => (0L, 0L) }
}

/** What a workload provides to the run loop. */
trait Workload {
  /** Operations of one pass, in canonical order (the seed permutes it). */
  def ops: Seq[String]
  /** One staging repetition; repetition 0's inputs are the ones used. */
  def stage(rep: Int): Unit
  def afterStaging(): Unit = ()
  def pass(order: Seq[String]): BenchMain.PassResult
  /** The unmeasured pass between the cold and the measured ones. */
  def warmUp(order: Seq[String], outDir: String): BenchMain.PassResult = pass(order)
  /** Per-layer figures of one traced pass, and for each operation (and
    * the pass as a whole, against `wallS`, its wall seconds as the run
    * loop measured them) the share of its wall time that its layer-call
    * spans cover. */
  def layers(spans: Seq[Tracer.Span], snap: SparkProbe.Snapshot,
             wallS: Double): (Map[String, Double], Seq[(String, Double)])
  /** Traced-run work outside the passes: (metrics, attempted, failed, errors). */
  def tracedExtras(rnd: scala.util.Random): (Map[String, Double], Int, Int, Seq[String]) =
    (Map.empty, 0, 0, Nil)
  /** After the measured passes: write what the checker compares (if the
    * warm-up did not) and return the facts the checker needs. */
  def writeOutputs(dir: String): Map[String, Any]
  /** For the oracle maker: the DuckDB SQL of every operation. */
  def writeOracleInputs(path: String): Unit = ()
}

/** Register rows (SparkEntry.queries) driven one after another over the
  * base documents and embeddings. */
final class CurateWorkload(spark: SparkSession, o: BenchMain.Opts, tr: Tracer) extends Workload {
  import BenchMain._
  private val names = CurateRows
  private val fns = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, throw new IllegalArgumentException(s"no register row $n"))).toMap
  }
  private val inputs = Seq("documents.parquet", "embeddings.parquet")
  private def inDir(rep: Int) = s"${o.work}/in$rep"
  /** Where the rows read their tables: repetition 0's staged copy. */
  private val queryDir = inDir(0)

  def ops: Seq[String] = names

  /** Stage the tables the rows read into the run's own input directory. */
  def stage(rep: Int): Unit = {
    val dir = Files.createDirectories(Paths.get(inDir(rep)))
    inputs.foreach(f => Files.copy(Paths.get(o.data, f), dir.resolve(f),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    if (rep > 0) inputs.foreach(f => Files.delete(dir.resolve(f)))
  }

  /** Wall seconds of each row in the last pass, timed around the row's
    * whole call sequence (job groups and span bookkeeping included) and
    * not by the tracer, so the coverage check has its own denominator. */
  private var lastWall = Map.empty[String, Double]

  def pass(order: Seq[String]): PassResult = {
    var failed = 0
    val rows = Map.newBuilder[String, Long]
    val wall = Map.newBuilder[String, Double]
    val errors = Seq.newBuilder[String]
    order.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val n = tr.span("op", q) {
          val df = withGroup(spark, tr.on, s"graftbench:$q:construct") {
            tr.span("construct", q)(fns(q)(spark, queryDir))
          }
          withGroup(spark, tr.on, s"graftbench:$q:exec")(tr.span("exec", q)(force(df)))
        }
        rows += q -> n
        wall += q -> (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$q: $e"
      }
    }
    lastWall = wall.result()
    PassResult(order.size, failed, rows.result(), errors.result())
  }

  def layers(spans: Seq[Tracer.Span], snap: SparkProbe.Snapshot,
             wallS: Double): (Map[String, Double], Seq[(String, Double)]) = {
    def total(name: String, q: String) = spans.filter(s => s.name == name && s.key == q).map(_.seconds).sum
    val m = names.flatMap { q =>
      Seq(s"operators.$q.construct_s" -> total("construct", q),
        s"operators.$q.exec_s" -> total("exec", q),
        s"operators.$q.jobs" -> snap.jobs.count(_.group.startsWith(s"graftbench:$q:")).toDouble)
    }.toMap
    val covered = lastWall.map { case (q, _) => q -> (total("construct", q) + total("exec", q)) }
    val cov = lastWall.toSeq.map { case (q, w) => q -> covered(q) / w } :+
      ("pass" -> covered.values.sum / wallS)
    (m, cov)
  }

  /** The four kernels, each projected over documents and embeddings
    * scaled ×10 by graft.ScaleUp (made here, untimed) and forced; three
    * timed calls each, median reported. */
  override def tracedExtras(rnd: scala.util.Random): (Map[String, Double], Int, Int, Seq[String]) = {
    import graft.functions._
    val scaled = s"${o.work}/scaled"
    graft.ScaleUp.run(spark, o.data, scaled, ScaleFactor)
    val docs = spark.read.parquet(s"$scaled/documents.parquet")
    val emb = spark.read.parquet(s"$scaled/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val calls: Map[String, () => DataFrame] = Map(
      "bpe" -> (() => docs.select(ByteBpeEncode.byteBpeCount(col("text"), BpeMerges))),
      "minhash" -> (() => docs.select(
        MinHashBands.minhashBands(TextFunctions.wordShingles(col("text"), 5), 128, 16))),
      "srp" -> (() => emb.select(SrpBucketIds.srpBucketIds(col("embedding"), 8, 16, dim))),
      "dot" -> (() => emb.select(VectorExpressions.dotProduct(col("embedding"), col("embedding")))))
    val expected = Map("bpe" -> docs.count(), "minhash" -> docs.count(),
      "srp" -> emb.count(), "dot" -> emb.count())
    val times = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var failed = 0
    val errors = Seq.newBuilder[String]
    val order = (1 to 3).flatMap(_ => rnd.shuffle(calls.keys.toSeq.sorted))
    order.foreach { k =>
      System.gc()
      val t0 = System.nanoTime()
      try {
        val n = tr.span("kernel", k)(force(calls(k)()))
        if (n != expected(k)) throw new IllegalStateException(s"$n rows, expected ${expected(k)}")
        times(k) = times(k) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) => failed += 1; errors += s"kernel $k: $e"
      }
    }
    (calls.keys.map(k => s"functions.${k}_s" -> median(times(k))).toMap, order.size, failed, errors.result())
  }

  /** Warm up on the rows' full plans, deterministic sort included,
    * writing each output for the checker (as graft.Verify does). */
  override def warmUp(order: Seq[String], outDir: String): PassResult = {
    val errors = order.flatMap { q =>
      try {
        fns(q)(spark, queryDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        None
      } catch { case NonFatal(e) => Some(s"$q: $e") }
    }
    PassResult(order.size, errors.size, Map.empty, errors)
  }

  def writeOutputs(dir: String): Map[String, Any] = Map("query_dir" -> queryDir)

  override def writeOracleInputs(path: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(path), Json.of(Map(
      "query_dir" -> queryDir,
      "oracle_sql" -> names.map(n => n -> sql.getOrElse(n, "")).toMap)))
  }

  /** Byte-level merges (hex UTF-8 symbols): th, the, ␠the, in, an, and, er, on. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("74", "68"), ("7468", "65"), ("20", "746865"), ("69", "6E"),
    ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
}

/** Engine.migrate from an embedded in-memory Derby source to an embedded
  * in-memory Derby target, wired as graft.Main wires its JDBC path. */
final class MigrateWorkload(spark: SparkSession, o: BenchMain.Opts, tr: Tracer) extends Workload {
  import BenchMain._
  private val sourceTables = Seq("nation", "customer", "orders", "lineitem")
  private def srcUrl(rep: Int) = s"jdbc:derby:memory:graftbench_src$rep"
  private val tgtUrl = "jdbc:derby:memory:graftbench_tgt"
  private val configPath = s"${o.work}/config/config.yaml"
  /** The source tables' rows, read once; each staging loads them anew. */
  private lazy val sourceData: Seq[(String, org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])] =
    sourceTables.map { t =>
      val df = spark.read.parquet(s"${o.data}/$t.parquet")
      (t, df.schema, df.collect())
    }
  private lazy val sourceRows: Map[String, Long] =
    sourceData.map { case (t, _, rows) => t -> rows.length.toLong }.toMap
  /** target table -> source table, from the committed config. */
  private lazy val targets: Seq[(String, String)] =
    YamlConfig.load(configPath).tables.map(t => t.targetTable -> t.sourceTable)

  def ops: Seq[String] = Seq("migrate")

  /** Load the four source tables the way an Oracle schema looks to JDBC
    * (upper-case names, VARCHAR strings) with batched inserts. */
  def stage(rep: Int): Unit = {
    import org.apache.spark.sql.types._
    val c = java.sql.DriverManager.getConnection(srcUrl(rep) + ";create=true")
    try {
      c.setAutoCommit(false)
      sourceData.foreach { case (t, schema, rows) =>
        val cols = schema.fields.map { f =>
          val sqlType = f.dataType match {
            case LongType => "BIGINT"
            case IntegerType => "INTEGER"
            case DoubleType => "DOUBLE"
            case StringType => "VARCHAR(64)"
            case TimestampType | TimestampNTZType => "TIMESTAMP"
            case other => throw new IllegalArgumentException(s"no Derby type for $other")
          }
          s"${f.name.toUpperCase} $sqlType"
        }
        val st = c.createStatement()
        try st.execute(s"CREATE TABLE ${t.toUpperCase} (${cols.mkString(", ")})") finally st.close()
        val ins = c.prepareStatement(
          s"INSERT INTO ${t.toUpperCase} VALUES (${cols.map(_ => "?").mkString(", ")})")
        try {
          rows.iterator.zipWithIndex.foreach { case (r, i) =>
            schema.indices.foreach(k => ins.setObject(k + 1, r.get(k) match {
              case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
              case v => v
            }))
            ins.addBatch()
            if (i % 5000 == 4999) ins.executeBatch()
          }
          ins.executeBatch()
        } finally ins.close()
        c.commit()
      }
    } finally c.close()
    if (rep > 0) dropDb(srcUrl(rep))
  }

  override def afterStaging(): Unit = {
    // the seed permutes table_files; the scheduler's dependency order
    // must make that a no-op
    val cfgDir = Paths.get(o.config).getParent
    val out = Paths.get(configPath).getParent
    Files.createDirectories(out.resolve("tables"))
    Files.list(cfgDir.resolve("tables")).iterator().asScala.foreach(p =>
      Files.copy(p, out.resolve("tables").resolve(p.getFileName), java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    val lines = Files.readAllLines(Paths.get(o.config)).asScala.toSeq
    val (files, rest) = lines.partition(_.trim.startsWith("- "))
    val permuted = new scala.util.Random(o.seed).shuffle(files)
    val at = rest.indexWhere(_.trim == "table_files:")
    Files.writeString(Paths.get(configPath),
      (rest.take(at + 1) ++ permuted ++ rest.drop(at + 1)).mkString("\n") + "\n")
    java.sql.DriverManager.getConnection(tgtUrl + ";create=true").close()
    sourceRows
  }

  /** One operation per table: a table counts as done once the engine has
    * read its written target back, its last call into the sink. */
  def pass(order: Seq[String]): PassResult = {
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    try {
      val report = tr.span("op", "migrate") {
        val cfg = tr.span("config.load")(YamlConfig.load(configPath))
        val src = tr.span("sources.connect") {
          val s = JdbcSource(spark, srcUrl(0), "", "", fetchSize = cfg.global.batchSize,
            partitioning = graft.Main.partitioningFromConfig(cfg))
          s.checkConnectivity()
          s
        }
        val sink = tr.span("sinks.connect") {
          val s = JdbcSink(tgtUrl, "", "", batchSize = cfg.global.batchSize, restartIdentity = true)
          s.checkConnectivity()
          s
        }
        val quarantine = cfg.global.quarantineTarget.map(d => new TracedSink(ParquetSink(s"${o.work}/$d"), tr))
        // the wrappers are in place in every pass (they only record spans
        // while tracing is on), so traced and untraced passes run alike
        tr.span("engine.migrate")(Engine.migrate(cfg, new TracedCatalog(src, tr),
          new TracedSink(sink, tr, done), quarantine = quarantine))
      }
      val broken = report.tables.filter(t =>
        t.rows + t.skippedRows != sourceRows(targets.toMap.apply(t.table).toLowerCase))
      lastReport = report
      PassResult(targets.size, 0,
        report.tables.map(t => t.table -> t.rows).toMap,
        broken.map(t => s"${t.table}: ${t.rows} written + ${t.skippedRows} skipped != source rows"))
    } catch {
      case NonFatal(e) =>
        PassResult(targets.size, targets.size - done.size, Map.empty, Seq(s"migrate: $e"))
    }
  }

  private var lastReport = Engine.MigrationReport(Nil)

  def layers(spans: Seq[Tracer.Span], snap: SparkProbe.Snapshot,
             wallS: Double): (Map[String, Double], Seq[(String, Double)]) = {
    def sum(p: Tracer.Span => Boolean) = spans.filter(p).map(_.seconds).sum
    val perTable = lastReport.tables.map { rep =>
      val t = rep.table
      val src = targets.toMap.apply(t)
      val scan = spans.filter(s => s.name == "sources.scan" && s.key == src)
      val sinkSpans = spans.filter(s => s.name.startsWith("sinks.") &&
        (s.key == t || s.key == s"${t}_rejects"))
      val preLoad = sinkSpans.find(_.name == "sinks.preLoad")
      val write = sinkSpans.find(s => s.name == "sinks.write" && s.key == t)
      // Engine calls nothing else between the scan returning and the
      // sink's preLoad (it compiles the table and runs its abort checks),
      // nor between preLoad and write (it wraps the compiled frame in a
      // row-count observation): both gaps are plans-layer work, and the
      // Spark jobs inside them are the rules layer's abort checks
      val gaps = Seq(scan.map(_.end).maxOption -> preLoad.map(_.start),
        preLoad.map(_.end) -> write.map(_.start)).collect {
        case (Some(a), Some(b)) if b > a =>
          ((b - a) / 1e9, snap.jobCoveredMs(a / 1000000L + wallOffsetMs, b / 1000000L + wallOffsetMs) / 1000.0)
      }
      val gap = gaps.map(_._1).sum
      val assert = gaps.map(_._2).sum
      val covered = scan.map(_.seconds).sum + gap + sinkSpans.map(_.seconds).sum
      (t, rep.seconds, gap - assert, assert, covered)
    }
    val m = Map(
      "config.load_s" -> sum(_.name == "config.load"),
      "sources.scan_s" -> sum(s => s.name.startsWith("sources.")),
      "sinks.write_s" -> sum(s => s.name.startsWith("sinks.")),
      "plans.compile_s" -> perTable.map(_._3).sum,
      "rules.assert_s" -> perTable.map(_._4).sum,
      // engine time inside a table outside every layer call: waiting for
      // the observed row count after the write, releasing the cache
      "engine.self_s" -> perTable.map(r => r._2 - r._5).sum) ++
      perTable.map(r => s"engine.table_s.${r._1}" -> r._2)
    // each table against the engine's own seconds for it, and the pass
    // (config load and connectivity probes included) against its wall time
    val passCovered = sum(s => Set("config.load", "sources.connect", "sinks.connect")(s.name)) +
      perTable.map(_._5).sum
    (m, perTable.map(r => r._1 -> (if (r._2 > 0) r._5 / r._2 else 0.0)) :+ ("pass" -> passCovered / wallS))
  }

  /** nanoTime -> wall-clock milliseconds, for placing spans among the
    * listener's job times. */
  private val wallOffsetMs: Long = System.currentTimeMillis() - System.nanoTime() / 1000000L

  /** sources.read_s: each configured source scan read in full, forced,
    * without the migration around it; three reads, median reported. */
  override def tracedExtras(rnd: scala.util.Random): (Map[String, Double], Int, Int, Seq[String]) = {
    val cfg = YamlConfig.load(configPath)
    val src = JdbcSource(spark, srcUrl(0), "", "", fetchSize = cfg.global.batchSize,
      partitioning = graft.Main.partitioningFromConfig(cfg))
    val reads = (1 to 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      cfg.tables.foreach(t => force(src.scan(t.qualifiedSource, t.where)._1))
      (System.nanoTime() - t0) / 1e9
    }
    (Map("sources.read_s" -> median(reads)), 0, 0, Nil)
  }

  def writeOutputs(dir: String): Map[String, Any] = {
    targets.foreach { case (t, _) =>
      spark.read.format("jdbc").option("url", tgtUrl).option("dbtable", t).load()
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t")
    }
    val quarantineDir = YamlConfig.load(configPath).global.quarantineTarget.map(d => s"${o.work}/$d")
    Map("tables" -> lastReport.tables.map { t =>
      val src = targets.toMap.apply(t.table).toLowerCase
      val rejects = quarantineDir.map(d => Paths.get(s"$d/${t.table}_rejects.parquet"))
        .filter(Files.exists(_)).map(p => spark.read.parquet(p.toString).count()).getOrElse(0L)
      Map("table" -> t.table, "source" -> src, "written" -> t.rows, "skipped" -> t.skippedRows,
        "source_rows" -> sourceRows(src), "rejects" -> rejects)
    })
  }

  private def dropDb(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${of(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
