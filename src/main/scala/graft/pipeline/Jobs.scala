package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Names the Spark jobs an eager pipeline action launches, so job-level
  * profiles (Spark UI, Bench's GRAFT_KG_JOBS listener) attribute wall
  * time to pipeline stages instead of anonymous job ids. */
object Jobs {
  def named[A](spark: SparkSession, description: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try f finally sc.setJobDescription(prev) // restore enclosing scope's label
  }

  /** An eager `localCheckpoint` that also returns its row count, counted
    * inside the checkpoint's own job by `Dataset.observe` (reading the
    * observation launches no job). The job carries the caller's label. */
  def countedCheckpoint(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("rows")).localCheckpoint(true)
    (cp, obs.get("rows").asInstanceOf[Long])
  }
}
