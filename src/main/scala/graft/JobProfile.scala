package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/**
 * Measurement tooling (optimization rounds, guide §1/§7): run ONE
 * declared query end-to-end (construction + the bench's forced
 * execution) and print every Spark job it launches — start offset,
 * duration, task count, description. Separates "many tiny driver-action
 * jobs" from "one big job" from "driver-side planning gaps" (time
 * between jobs) without the UI. Run 0 is the JVM's first (cold)
 * construction, so one-time per-JVM work shows up there; runs
 * 1..repeat are warm. Each run's total splits out the jobs launched
 * during construction; the forced execution's jobs carry the
 * description `graft:exec.<query>`.
 *
 * Usage: runMain graft.JobProfile <query> [repeat]
 * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in graft.Bench.
 */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [repeat]")
    val name = args(0)
    val repeat = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // mirror graft.Bench's scale-adaptive AQE floor so the profiler
      // prices the same plans the bench times
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PART_SIZE", "64k"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))

    final case class Job(id: Int, desc: String, start: Long,
                         var end: Long = -1L, var tasks: Int = 0,
                         var stages: Int = 0)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId,
            Option(e.properties).map(_.getProperty("spark.job.description"))
              .flatMap(Option(_)).getOrElse(""), e.time)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          jobs.values.find(j => e.stageInfo.submissionTime.exists(_ >= j.start)
            && j.end < 0).foreach { j =>
            j.tasks += e.stageInfo.numTasks; j.stages += 1
            val dur = (for (s <- e.stageInfo.submissionTime;
                            c <- e.stageInfo.completionTime) yield c - s)
              .getOrElse(-1L)
            println(f"    stage ${e.stageInfo.stageId}%3d " +
              f"dur ${dur / 1000.0}%6.2fs tasks ${e.stageInfo.numTasks}%4d  " +
              e.stageInfo.name.take(100))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // run 0 is the cold run (first construction in the JVM: codegen,
    // JIT and any per-JVM one-time work); runs 1..repeat are warm
    for (r <- 0 to repeat) {
      jobs.synchronized(jobs.clear())
      System.gc()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tCons = System.nanoTime()
      val consEndMs = System.currentTimeMillis()
      val n = graft.operators.JobNames.named(spark, s"graft:exec.$name") {
        org.apache.spark.sql.GraftColumnBridge
          .withoutTopLevelSort(df).queryExecution.toRdd.count()
      }
      val tEnd = System.nanoTime()
      Thread.sleep(300) // let the listener bus drain
      val base = jobs.values.headOption.map(_.start).getOrElse(0L)
      println(f"== $name run $r${if (r == 0) " (cold)" else ""}: " +
        f"construction ${(tCons - t0) / 1e9}%.3f s, " +
        f"execution ${(tEnd - tCons) / 1e9}%.3f s, rows $n")
      var prevEnd = base
      jobs.values.toSeq.sortBy(_.start).foreach { j =>
        val gap = (j.start - prevEnd) / 1000.0
        prevEnd = math.max(prevEnd, j.end)
        println(f"  job ${j.id}%3d +${(j.start - base) / 1000.0}%8.2fs " +
          f"dur ${(j.end - j.start) / 1000.0}%7.2fs gap $gap%6.2fs " +
          f"stages ${j.stages}%2d tasks ${j.tasks}%4d  ${j.desc.take(80)}")
      }
      println(f"  total jobs ${jobs.size} (construction " +
        f"${jobs.values.count(_.start <= consEndMs)}), job time " +
        f"${jobs.values.map(j => j.end - j.start).sum / 1000.0}%.2f s")
    }
    spark.stop()
  }
}
