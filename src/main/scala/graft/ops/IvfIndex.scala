package graft.ops

import graft.Tables
import graft.embed.{CosineSimilarity, HashingEmbedder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path for similarity search next to hyperplane LSH (SURVEY.md §2.5
  * R3; the reference's FAISS store supports exactly these index
  * families: flat / IVF / HNSW, VectorStore_Faiss.py:110-148).
  *
  * Structure (IVF-flat):
  *  1. a deterministic coarse quantizer: a bounded hash-ordered sample
  *     is collected and nlist centroids are chosen by greedy
  *     farthest-point traversal (deterministic — no iterative k-means,
  *     whose float-sum reduction order would make centroids depend on
  *     partitioning);
  *  2. every vector is assigned to its nearest centroid's list — a
  *     narrow map against the broadcast centroid table. At real scale
  *     the assigned table is written bucketed by list_id, making each
  *     probe a partition-pruned scan;
  *  3. a query probes only its nprobe nearest lists: candidates come
  *     from an equi-join on list_id (never a cross product), verified
  *     by exact cosine, then per-query top-k.
  *
  * Approximate by design => no SQL oracle; ScalaTest measures recall
  * against the exact brute-force baseline.
  */
object IvfIndex {

  /** Greedy farthest-point selection over a hash-ordered sample:
    * start at the lowest-hash vector, repeatedly add the sample point
    * with the largest cosine distance to its nearest chosen centroid.
    * Deterministic: ties fall to the earlier sample position. */
  def chooseCentroids(sampleIn: Array[Array[Float]], nlist: Int): Array[Array[Float]] = {
    // duplicate vectors (near-dup pages embed identically) would
    // otherwise exhaust the distinct pool and fill remaining slots
    // with copies of the first point — dedup first, and stop early
    // once every remaining sample point coincides with a centroid
    val sample = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Float]]
      sampleIn.foreach(v => seen.add(v.toSeq))
      seen.iterator.map(_.toArray).toArray
    }
    if (sample.isEmpty) return Array.empty
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    // nearest-chosen similarity per sample point, updated incrementally
    val best = sample.map(v => HashingEmbedder.cosine(v, sample.head))
    var exhausted = false
    while (chosen.length < math.min(nlist, sample.length) && !exhausted) {
      var worst = -1
      var worstSim = Double.MaxValue
      var i = 0
      while (i < sample.length) {
        if (best(i) < worstSim) { worstSim = best(i); worst = i }
        i += 1
      }
      if (worstSim >= 1.0) exhausted = true
      else {
        val c = sample(worst)
        chosen += c
        i = 0
        while (i < sample.length) {
          val s = HashingEmbedder.cosine(sample(i), c)
          if (s > best(i)) best(i) = s
          i += 1
        }
      }
    }
    chosen.toArray
  }

  /** Nearest-centroid ids for a vector, most similar first
    * (deterministic: ties to the lower centroid id). */
  def nearestLists(centroids: Array[Array[Float]], v: Array[Float],
      n: Int): Array[Int] =
    centroids.indices
      .sortBy(i => (-HashingEmbedder.cosine(centroids(i), v), i))
      .take(n).toArray

  /** Bounded deterministic sample -> centroids (driver-side, tiny).
    * The SINGLE quantizer recipe, shared by the in-memory path and the
    * durable-index writer — they must not drift, or a durable probe
    * would rank against different lists than the in-memory run the
    * tests validated. */
  private def sampleCentroids(emb: DataFrame, nlist: Int): Array[Array[Float]] = {
    val sample = emb
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(nlist * 4)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    chooseCentroids(sample, nlist)
  }

  /** IVF-flat top-k for each query vector (vec_id < nQueries),
    * excluding self. Same output shape as VectorOps.annTopK. */
  def ivfTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      nQueries: Int = 10, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = sampleCentroids(emb, nlist)
    // empty input => no centroids; without this guard the assign UDF
    // would index nearestLists(...)(0) into an empty array
    if (centroids.isEmpty) {
      return emb.select(col("vec_id").as("query_id"),
        lit(1).as("rank"), col("vec_id").as("neighbor_id")).limit(0)
    }
    val bc = spark.sparkContext.broadcast(centroids)

    // 2. narrow assignment against the broadcast quantizer
    val assignUdf = udf((v: Seq[Float]) => nearestLists(bc.value, v.toArray, 1)(0))
    val lists = emb.select(col("vec_id"), col("embedding"),
      assignUdf(col("embedding")).as("list_id"))

    // 3. probe nprobe lists per query; equi-join on list_id
    val probeUdf = udf((v: Seq[Float]) => nearestLists(bc.value, v.toArray, nprobe))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(probeUdf(col("embedding"))).as("list_id"))
    VectorOps.topK(lists
      .join(broadcast(queries), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        CosineSimilarity(col("embedding"), col("qv")).as("cos")), k)
  }

  /** Durable IVF-flat layout (the cross-job read path, symmetric with
    * VectorOps.writeLshBucketIndex): the tiny centroid table is a
    * JSON-encoded sidecar, the assignments are written ONCE partitioned
    * by `list_id`. A probe then reads its nprobe nearest lists as a
    * planning-time partition filter — nprobe/nlist of the corpus, no
    * assignment UDF, no full scan. */
  def writeIvfIndex(spark: SparkSession, sfDir: String, indexDir: String,
      nlist: Int = 16): Unit = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = sampleCentroids(emb, nlist)
    // fail fast rather than write an index whose lists dir has no part
    // files — a later ivfTopKFromIndex would die on schema inference,
    // far from the cause (ivfTopK's empty-input contract is an empty
    // FRAME, but a durable empty index is just a broken artifact)
    require(centroids.nonEmpty,
      s"writeIvfIndex: no embeddings under $sfDir — refusing to write an empty index")
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Float]) => nearestLists(bc.value, v.toArray, 1)(0))
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.mkString("[", ",", "]")) }.toSeq
      .toDF("centroid_id", "vec_json")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexDir/centroids")
    // repartition on the partition column: one file per list instead of
    // (tasks x lists) tiny files — same rationale as writeLshBucketIndex
    emb.select(col("vec_id"), col("embedding"),
        assignUdf(col("embedding")).as("list_id"))
      .repartition(col("list_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("list_id")
      .parquet(s"$indexDir/lists")
  }

  /** IVF-flat top-k served from a durable index written by
    * [[writeIvfIndex]] (mirrors VectorOps.annTopKLshFromIndex): each
    * query's nprobe nearest centroids resolve driver-side from the
    * sidecar (nlist rows), then ONE `list_id IN (union of all probes)`
    * partition-pruned scan + an equi-join on list_id serves every
    * query. Candidate semantics == [[ivfTopK]] (same deterministic
    * quantizer), so the same rank-invariant oracle applies. */
  def ivfTopKFromIndex(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, Array[Float])], k: Int,
      nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getString(1).stripPrefix("[").stripSuffix("]")
        .split(',').filter(_.nonEmpty).map(_.toFloat))
    val qRows = queries.flatMap { case (id, v) =>
      nearestLists(centroids, v, nprobe).map(l => (id, l, v.toSeq))
    }.toDF("query_id", "list_id", "qv")
    val allLists = queries
      .flatMap(q => nearestLists(centroids, q._2, nprobe)).distinct
    VectorOps.topK(spark.read.parquet(s"$indexDir/lists")
      .filter(col("list_id").isin(allLists: _*))
      .join(broadcast(qRows), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      // no dedup needed (unlike LSH): each vector lives in exactly ONE
      // list and qRows has distinct (query, list) pairs
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        CosineSimilarity(col("embedding"), col("qv")).as("cos")), k)
  }

  /** Driver-graded durable-IVF probe: write the list-partitioned index
    * once per process, then serve the standard 10-query top-k purely
    * from the durable layout through [[ivfTopKFromIndex]]. */
  def ivfTopKDurable(spark: SparkSession, sfDir: String, k: Int = 10,
      nQueries: Int = 10, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val dir = VectorOps.durableDir("graft_ivf_idx", sfDir)
    VectorOps.ensureWrittenOnce(dir)(writeIvfIndex(spark, sfDir, dir, nlist))
    val queries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    ivfTopKFromIndex(spark, dir, queries, k, nprobe)
  }
}
