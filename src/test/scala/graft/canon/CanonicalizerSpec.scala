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
    val (_, nameMap) = Canonicalizer.canonicalize(Canonicalizer.names(mentions, cfg), None, cfg)
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
    val (entities, nameMap) = Canonicalizer.canonicalize(Canonicalizer.names(mentions), None)
    val (e0, m0) = (sortedRows(entities), sortedRows(nameMap))
    assert(e0.nonEmpty && m0.nonEmpty)
    for (seed <- Seq(1L, 2L, 3L)) {
      val permuted = mentions.orderBy(rand(seed)).repartition(3 + seed.toInt)
      val (e, m) = Canonicalizer.canonicalize(Canonicalizer.names(permuted), None)
      assert(sortedRows(e) == e0, s"entities differ under row-order seed $seed")
      assert(sortedRows(m) == m0, s"name map differs under row-order seed $seed")
    }
  }

  test("event KNN over the KB's whole event vocabulary equals its definitions") {
    import spark.implicits._
    // event contents come only from the KB's event specs; every third
    // one also appears under a lower id, which must become its
    // representative (min event_id per content)
    val contents = graft.extract.TripleExtractor.default.eventSpecRows.map(_._2).distinct
    val events = (contents.zipWithIndex.map { case (c, i) => (f"e$i%03d", c) } ++
      contents.zipWithIndex.collect { case (c, i) if i % 3 == 0 => (f"d$i%03d", c) })
      .toDF("event_id", "content")
    val reps = events.as[(String, String)].collect().groupBy(_._2)
      .map { case (c, es) => es.map(_._1).min -> c }.toIndexedSeq.sortBy(_._1)
    val embs = reps.map { case (_, c) => HashingEmbedder.embed(c.toLowerCase) }
    val keys = embs.map(v => graft.lsh.HyperplaneLSH.tableKeys(v).toSet)
    val data = embs.map(v => ArrayData.toArrayData(v))
    // every ordered representative pair with its exact cosine
    val scored = for {
      i <- reps.indices; j <- reps.indices if i != j
    } yield (i, j, CosineSimilarity.compute(data(i), data(j)))
    def ranked(rows: Seq[(Int, Int, Double)], k: Int): Seq[String] =
      rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, reps(r._2)._1)).take(k).zipWithIndex.map {
          case ((i, j, _), rank) => s"[${reps(i)._1},${reps(j)._1},${rank + 1}]"
        }
      }.sorted
    def knn(k: Int, cutoff: Double): Seq[String] =
      sortedRows(Canonicalizer.eventKnn(events, k, cutoff))
    // 1. blocking: with no cutoff and no top-k bound the output is
    //    exactly the pairs that share a hyperplane-LSH key, ranked by
    //    (desc cos, asc dst)
    val candidates = scored.filter { case (i, j, _) => (keys(i) & keys(j)).nonEmpty }
    assert(knn(1000, -1.0) == ranked(candidates, 1000))
    // the largest bucket bounds the uncapped member lists of eventKnn
    val largestBucket = keys.flatten.groupBy(identity).values.map(_.size).max
    val measured = s"${reps.size} representatives, ${candidates.size / 2} " +
      s"candidate pairs, largest bucket $largestBucket"
    info(measured)
    assert((reps.size, candidates.size / 2, largestBucket) == ((28, 34, 3)), measured)
    // 2. at the production cutoff it equals the all-pairs exact KNN:
    //    pair completeness 1.0 over the whole vocabulary
    val cfg = graft.GraftConfig.default
    val exact = scored.filter(_._3 >= cfg.eventKnnCutoff)
    assert(exact.nonEmpty, "no pair clears the event cutoff — vacuous")
    info(s"${exact.size / 2} pair(s) at cos >= ${cfg.eventKnnCutoff}, PC = 1.0")
    assert(knn(cfg.eventKnnTopK, cfg.eventKnnCutoff) == ranked(exact, cfg.eventKnnTopK))
  }
}
