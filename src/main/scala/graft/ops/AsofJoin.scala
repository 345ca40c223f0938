package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for every left row, the latest right row whose
  * timestamp is at or before the left row's timestamp, within the same
  * key. Spark has no built-in; the naive encoding (a `<=` theta-join +
  * per-left-row max) is a range cross-join that explodes quadratically
  * on hot keys.
  *
  * This implementation is a single hash shuffle on the key plus one
  * per-partition sort: union the two sides tagged, sort by
  * (ts, side-with-right-first), and carry the last non-null right
  * payload forward with a running `last(ignoreNulls)` window. Cost is
  * O((|L|+|R|) log) per key — the same plan shape a sorted-merge as-of
  * join executes on a time-series engine, and it survives hot keys
  * because a key's rows stay one sorted run (AQE skew-split applies to
  * the shuffle like any other).
  */
object AsofJoin {

  /** Generic as-of join.
    *
    * @param payloadCols right-side columns to attach (must not collide
    *   with left column names; rename upstream). Right rows must be
    *   unique per (keys, rightTsCol) for a deterministic result —
    *   pre-aggregate duplicates upstream.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val pStruct = struct(payloadCols.map(col): _*)
    val pType = right.select(pStruct.as("__p")).schema("__p").dataType
    val keyCols: Seq[Column] = keys.map(col)
    // a null-ts right row would sort first (nulls-first) and its
    // non-null payload struct would be carried into every left row with
    // no earlier real match; under as-of semantics it matches nothing.
    // (Left rows with a null ts also sort first and therefore get no
    // match — the documented behavior.)
    val r = right.filter(col(rightTsCol).isNotNull).select(
      keyCols :+ col(rightTsCol).as("__ts") :+ lit(0).as("__side")
        :+ pStruct.as("__p"): _*)
    val l = left
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(pType))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before left rows at equal ts, so "at or before"
    // includes equality; the running last() never sees a later right row
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__carry", last(col("__p"), ignoreNulls = true).over(w))
    carried
      .filter(col("__side") === 1)
      .select(left.columns.toSeq.map(col) ++
        payloadCols.map(p => col(s"__carry.$p").as(p)): _*)
  }

  /** Each click event joined to the same user's most recent purchase at
    * or before the click (the canonical as-of shape: point-in-time
    * feature lookup for training-data assembly). */
  def clickToPriorPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    // dedup purchases per (user, ts) for a deterministic as-of result
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("purchase_id"),
        max_by(col("value"), col("event_id")).as("pv"))
    asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("purchase_id", "pv"))
      .select(col("click_id"), col("user_id"),
        col("purchase_id"), round(col("pv"), 6).as("purchase_value"))
  }
}
