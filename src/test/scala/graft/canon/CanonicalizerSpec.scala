package graft.canon

import graft.SparkSpec
import graft.embed.{CosineSimilarity, HashingEmbedder}
import graft.pipeline.KGPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

class CanonicalizerSpec extends SparkSpec {

  /** The mention stream of a 150-page run, as canonicalize consumes it. */
  private lazy val mentions: DataFrame =
    KGPipeline.run(spark, 150, partitions = 4).mentions
      .withColumnRenamed("chunk_id", "chunkId").localCheckpoint(true)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("LSH name banding has pair completeness 1.0 against all-pairs cosine") {
    // SparkER's pair completeness (PC) of the blocking step: every pair
    // of distinct names whose hashing-embedder cosine clears the merge
    // gate, found by exhaustive all-pairs on the driver (the reference's
    // O(n^2) semantics, Base_Neo4j.py:508-626), must end in one
    // component of canonicalize's output.
    val cfg = graft.GraftConfig.default
    val (_, nameMap) = Canonicalizer.canonicalize(mentions, cfg)
    val byRaw = nameMap.select("entity_name", "name_key", "canonical_id")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // each name embeds its display name: the normalized surface of its
    // first mention by (chunkId, ord), as the G12 aggregate picks it
    val display = mentions.select("chunkId", "ord", "entityName").collect()
      .map(r => (byRaw(r.getString(2))._1, (r.getString(0), r.getInt(1)), r.getString(2)))
      .groupBy(_._1).map { case (key, ms) =>
        key -> Canonicalizer.normalizeName(ms.minBy(_._2)._3)
      }
    val component = byRaw.values.toMap
    val names = display.keys.toIndexedSeq.sorted
    val embs = names.map(k => ArrayData.toArrayData(
      HashingEmbedder.embed(Canonicalizer.embedKey(display(k)))))
    val reference = for {
      i <- names.indices
      j <- (i + 1) until names.size
      if CosineSimilarity.compute(embs(i), embs(j)) >= cfg.mergeThreshold
    } yield (names(i), names(j))
    // pairs whose embedding keys differ are the ones banding can miss:
    // identical keys collide on every band by construction
    val nonIdentical = reference.count { case (a, b) =>
      Canonicalizer.embedKey(display(a)) != Canonicalizer.embedKey(display(b))
    }
    val missed = reference.filter { case (a, b) => component(a) != component(b) }
    val pc = 1.0 - missed.size.toDouble / reference.size
    val measured = s"PC = $pc over ${reference.size} pairs ($nonIdentical with " +
      s"distinct embedding keys) among ${names.size} names"
    info(measured)
    assert(names.size > 100, s"vocabulary too small: ${names.size} names")
    assert(reference.nonEmpty, "no pair clears the merge gate — vacuous")
    assert(missed.isEmpty, s"$measured; missed: ${missed.take(5).mkString(", ")}")
  }

  test("canonicalize does not depend on input row order") {
    val (entities, nameMap) = Canonicalizer.canonicalize(mentions)
    val (e0, m0) = (sortedRows(entities), sortedRows(nameMap))
    assert(e0.nonEmpty && m0.nonEmpty)
    for (seed <- Seq(1L, 2L, 3L)) {
      val permuted = mentions.orderBy(rand(seed)).repartition(3 + seed.toInt)
      val (e, m) = Canonicalizer.canonicalize(permuted)
      assert(sortedRows(e) == e0, s"entities differ under row-order seed $seed")
      assert(sortedRows(m) == m0, s"name map differs under row-order seed $seed")
    }
  }
}
