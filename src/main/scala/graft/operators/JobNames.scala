package graft.operators

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator launches while it builds its plan
  * (a span pass, a stats pass): `body` runs under the job description
  * `graft:<Operator>.<step>`, and the caller's description is restored
  * after, so a job profile or a listener attributes every construction
  * job to its operator. */
private[graft] object JobNames {
  def named[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(callerDesc)
  }
}
