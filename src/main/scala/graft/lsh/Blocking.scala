package graft.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}

/** LSH blocking: the one candidate-pair step of the similarity family,
  * shared by the G9 name banding, the MinHash and SimHash doc dedups
  * (`DedupOps.minhashLshPairs`, `simhashPairs`), the Jaccard candidates
  * (`DedupOps.jaccardPairs`) and the G13 event KNN.
  *
  * Callers group their banded rows ONCE into per-band member lists `ms`:
  * capped through `BoundedAgg.allOrNothing` (NULL = band over the
  * hot-band cap) or uncapped through `collect_list`. [[pairs]] then
  * streams the k^2 within-band pairs with two Generate operators: one
  * shuffle of the banded rows, where a count agg + join-back + a×b
  * self-join shuffles them three times.
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
