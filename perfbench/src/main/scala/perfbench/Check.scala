package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Output check for any seed: the graph invariants below, plus a
  * count-plus-`xxhash64` digest of the node and edge tables that is
  * compared against the digests recorded for fixed seeds.
  *
  * The bench's tables are small (tens of thousands of rows), so each
  * table is scanned once and checked on the driver: ids and row hashes
  * only, no shuffles. */
object Check {

  /** Edge class → (source label, destination label). */
  val EdgeEnds: Seq[(String, String, String)] = Seq(
    ("ENTITY_RELATION", "Entity", "Entity"),
    ("CONTAINS", "Chunk", "Event"),
    ("MENTIONS", "Chunk", "Entity"),
    ("PARTICIPATES_IN", "Entity", "Event"),
    ("SIMILAR_TO", "Event", "Event"),
    ("EVENT_RELATION", "Event", "Event"))

  val NodeLabels: Seq[String] = Seq("Chunk", "Event", "Entity")

  final case class Outcome(failures: Seq[String], digest: String,
      nodeRows: Map[String, Long], edgeRows: Map[String, Long])

  private val NodeCols = Seq("label", "node_id", "name", "content")
  private val EdgeCols = Seq("edge_type", "pred", "src", "dst", "rank", "n_sources")

  /** The `keep` columns of every row (class first), then the row's
    * `xxhash64` over all of `cols`. */
  private def hashed(df: DataFrame, cols: Seq[String], keep: Seq[String]): Array[Row] =
    df.select((keep.map(col) :+ xxhash64(cols.map(col): _*)): _*).collect()

  /** Per class: rows and the exact sum of the row hashes. */
  private final class Tally(rows0: Array[Row], hashAt: Int) {
    val rows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    private val sums = mutable.HashMap.empty[String, BigInt].withDefaultValue(BigInt(0))
    rows0.foreach { r =>
      rows(r.getString(0)) += 1
      sums(r.getString(0)) += r.getLong(hashAt)
    }
    def render: String =
      rows.keys.toSeq.sorted.map(k => s"$k:${rows(k)}:${sums(k)}").mkString(",")
  }

  private def render(n: Tally, e: Tally): String = s"nodes[${n.render}] edges[${e.render}]"

  /** A digest only: the cheap part of [[apply]], for repeat passes. */
  def digest(nodes: DataFrame, edges: DataFrame): String =
    render(new Tally(hashed(nodes, NodeCols, Seq("label")), 1),
      new Tally(hashed(edges, EdgeCols, Seq("edge_type")), 1))

  def apply(nodes: DataFrame, edges: DataFrame, mentions: DataFrame,
      nameMap: DataFrame): Outcome = {
    val failures = mutable.LinkedHashSet.empty[String]
    val ns = hashed(nodes, NodeCols, Seq("label", "node_id"))
    val es = hashed(edges, EdgeCols, Seq("edge_type", "src", "dst"))
    val (nt, et) = (new Tally(ns, 2), new Tally(es, 3))

    // node ids unique per label
    val ids = mutable.HashMap.empty[String, mutable.HashSet[String]]
    var dups = 0L
    ns.foreach { r =>
      if (!ids.getOrElseUpdate(r.getString(0), mutable.HashSet.empty).add(r.getString(1))) dups += 1
    }
    if (dups > 0) failures += s"$dups node ids repeat within their label"
    for (l <- Seq("Chunk", "Entity") if !nt.rows.contains(l)) failures += s"no $l nodes"
    if (!et.rows.contains("ENTITY_RELATION")) failures += "no ENTITY_RELATION edges"

    // every endpoint resolves to a node of its class's label
    val ends = EdgeEnds.map { case (t, s, d) => t -> ((s, d)) }.toMap
    val none = mutable.HashSet.empty[String]
    var dangling = 0L
    es.foreach { r =>
      ends.get(r.getString(0)) match {
        case None => failures += s"unknown edge class ${r.getString(0)}"
        case Some((s, d)) =>
          if (!ids.getOrElse(s, none).contains(r.getString(1))) dangling += 1
          if (!ids.getOrElse(d, none).contains(r.getString(2))) dangling += 1
      }
    }
    if (dangling > 0) failures += s"$dangling edge endpoints do not resolve"

    val mapped = nameMap.select("entity_name").collect().map(_.getString(0)).toSet
    val unmapped = mentions.select("entityName").distinct().collect()
      .count(r => !mapped.contains(r.getString(0)))
    if (unmapped > 0) failures += s"$unmapped mention surfaces missing from the name map"

    Outcome(failures.toSeq, render(nt, et), nt.rows.toMap, et.rows.toMap)
  }
}
