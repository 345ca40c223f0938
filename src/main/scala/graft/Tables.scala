package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver-generated testdata directory
  * (TESTDATA.md). Column pruning + predicate pushdown reach the scan
  * because these are plain `spark.read.parquet` relations.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Scale factor parsed from a testdata dir name like "/root/testdata/sf0.01". */
  def scaleOf(sfDir: String): Double = {
    val m = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
    m.map(_.group(1).toDouble).getOrElse(0.001)
  }
}
