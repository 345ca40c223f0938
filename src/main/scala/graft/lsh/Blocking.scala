package graft.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}

/** LSH blocking: the one candidate-pair step shared by the name banding
  * (entity canonicalization G9) and the document dedup paths.
  *
  * Callers group their banded rows ONCE into per-band member lists `ms`
  * through `BoundedAgg.allOrNothing` (NULL = band over the hot-band cap).
  * [[pairs]] then streams the k^2 within-band pairs with two Generate
  * operators: one shuffle of the banded rows, where the former count
  * agg + join-back + a×b self-join shape shuffled them three times.
  */
object Blocking {

  /** Every (a, b) with a < b from each non-NULL member list `ms`. A pair
    * shared by several lists appears once per list (callers distinct or
    * count it). */
  def pairs(lists: DataFrame, a: String, b: String): DataFrame =
    lists.filter(col("ms").isNotNull)
      .select(explode(col("ms")).as(a), col("ms"))
      .select(col(a), explode(col("ms")).as(b))
      .filter(col(a) < col(b))
}
