package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ScanFanOut

/** r22 optimization machinery: the CPU-dense scan fan-out and the
  * per-JVM kernel-model serialization proxy. */
class ScanFanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def repartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
          if r.shuffle => r
    }.size

  test("fan-out fires on a sub-threshold scan and preserves rows") {
    val small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fanned = ScanFanOut(small)
    assert(repartitions(fanned) == 1, "sub-threshold scan must fan out")
    // values unchanged (round-robin repartition only permutes rows)
    assert(fanned.count() == small.count())
    assert(fanned.agg(sum(xxhash64(col("doc_id")))).head.getLong(0) ==
      small.agg(sum(xxhash64(col("doc_id")))).head.getLong(0))
  }

  test("fan-out is idempotent: an already-fanned frame is not re-shuffled") {
    val small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val once = ScanFanOut(small)
    assert(repartitions(ScanFanOut(once)) == 1,
      "a frame already carrying a >= cores round-robin repartition " +
        "must pass through unchanged")
  }

  test("fan-out is a no-op above the size threshold") {
    // a frame whose optimizer estimate exceeds the threshold: fake it by
    // crossJoin blow-up (stats multiply), the production-scale stand-in
    val small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"))
    val big = small.crossJoin(small.select(col("doc_id").as("b")))
      .crossJoin(small.select(col("doc_id").as("c")))
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(ScanFanOut.MaxBytes), "fixture must estimate above threshold")
    assert(repartitions(ScanFanOut(big)) == 0,
      "above-threshold frames must not fan out")
  }

  test("a streaming frame passes through unchanged") {
    val stream = spark.readStream.format("rate").load()
    assert(ScanFanOut(stream) eq stream)
  }

  test("size estimation swallows only non-fatal failures") {
    assert(ScanFanOut.sizeEstimate(throw new IllegalStateException("no stats")) ==
      BigInt(Long.MaxValue))
    intercept[InterruptedException](
      ScanFanOut.sizeEstimate(throw new InterruptedException("cancelled")))
  }

  test("ByteBpeEncode.Model java-serializes to the per-JVM shared instance") {
    val merges = Seq(("74", "68"), ("7468", "65"))
    val m = graft.functions.ByteBpeEncode.modelFor(merges)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(m); oos.close()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val back = in.readObject()
    assert(back eq m,
      "deserialization must resolve to the JVM-cached model (same " +
        "instance, same warm token cache) — not a fresh per-task copy")
  }

  test("UnigramSegment.Model java-serializes to the per-JVM shared instance") {
    val pieces = Seq(("ab", -1.0), ("c", -2.0))
    val m = graft.functions.UnigramSegment.modelFor(pieces, -12.0)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(m); oos.close()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(in.readObject() eq m)
  }
}
