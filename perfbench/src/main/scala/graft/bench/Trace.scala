package graft.bench

import graft.sinks.Sink
import graft.sources.Catalog
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (id, parent, name, key, start,
  * end) in nanoseconds; the parent is the innermost open span on the
  * calling thread. While `on` is false, `span` only runs its body. */
final class Tracer {
  import Tracer.Span
  @volatile var on: Boolean = false
  private val buf = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        buf.synchronized(buf += Span(id, parent, name, key, t0, t1))
      }
    }

  def size: Int = buf.synchronized(buf.size)
  def since(from: Int): Seq[Span] = buf.synchronized(buf.drop(from).toList)
  def all: Seq[Span] = since(0)
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, key: String,
                        start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** Listener the benchmark registers for traced passes: every job (with
  * the job group the benchmark set on the calling thread), stage and
  * task. Read `snapshot` after `BenchSparkBridge.drainListenerBus`. */
final class SparkProbe extends SparkListener {
  import SparkProbe._
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private var stages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, group.getOrElse(""), e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.indexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(
      durationMs = e.taskInfo.duration,
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      failed = e.taskInfo.failed || e.taskInfo.killed,
      shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(_.diskBytesSpilled).getOrElse(0L))
  }

  def reset(): Unit = synchronized { jobs.clear(); tasks.clear(); stages = 0 }
  def snapshot: Snapshot = synchronized(Snapshot(jobs.toList, tasks.toList, stages))
}

object SparkProbe {
  final case class Job(id: Int, group: String, startMs: Long, endMs: Long)
  final case class Task(durationMs: Long, runMs: Long, failed: Boolean,
                        shuffleWriteBytes: Long, spillBytes: Long)
  final case class Snapshot(jobs: Seq[Job], tasks: Seq[Task], stages: Int) {
    /** Length of the union of job intervals clipped to [fromMs, toMs]. */
    def jobCoveredMs(fromMs: Long, toMs: Long): Long = {
      val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = 0L
      var curB = 0L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered + (curB - curA)
    }
  }
}

/** A source catalog that records a span around each call into the
  * wrapped one; the engine sees the same tables. */
final class TracedCatalog(inner: Catalog, tr: Tracer) extends Catalog {
  def table(name: String): DataFrame = tr.span("sources.table", name)(inner.table(name))
  override def tableOpt(name: String): Option[DataFrame] =
    tr.span("sources.tableOpt", name)(inner.tableOpt(name))
  override def scan(name: String, where: Option[String]): (DataFrame, Boolean) =
    tr.span("sources.scan", name)(inner.scan(name, where))
}

/** A sink that records a span around each call into the wrapped one,
  * and adds each table it has read back to `readBackDone`. */
final class TracedSink(inner: Sink, tr: Tracer,
                       readBackDone: java.util.Set[String] = new java.util.HashSet[String]) extends Sink {
  override def preLoad(table: String): Unit = tr.span("sinks.preLoad", table)(inner.preLoad(table))
  def write(table: String, df: DataFrame): Unit = tr.span("sinks.write", table)(inner.write(table, df))
  override def finalizeTable(table: String): Unit =
    tr.span("sinks.finalizeTable", table)(inner.finalizeTable(table))
  override def readBack(table: String): Option[DataFrame] = {
    val df = tr.span("sinks.readBack", table)(inner.readBack(table))
    readBackDone.add(table)
    df
  }
  override def rejectsTable(qualifiedTarget: String): String = inner.rejectsTable(qualifiedTarget)
}
