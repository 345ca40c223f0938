package graft.dedup

import graft.lsh.{Blocking, MinHasher, SimHasher}
import graft.text.TextOps
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for the training-data pipeline. Exact and
  * normalized dedup are pure hash-aggregates (one shuffle on the hash
  * key — uniform by construction, no skew). MinHash/SimHash live in
  * graft.lsh and are wired here as candidate-pair generators.
  */
object DedupOps {

  /** Doc-dedup hot-band cap: its own decision, not the name banding's
    * `GraftConfig.maxBandSize`, though both are 10000. */
  private val MaxBandSize = 10000

  /** Exact duplicate groups: md5(text) -> group size + representative
    * (min doc_id = deterministic keeper). Scale: shuffle key is a hash,
    * perfectly uniform; map-side partial agg shrinks each group to one
    * row per partition. */
  def exactGroups(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("group_size"),
        min("doc_id").as("keep_doc_id"))

  /** Documents to drop under exact dedup (all but the min doc_id per
    * normalized fingerprint). Implemented as a self-contained window-free
    * aggregate + semi-join back, so it scales without a per-group sort. */
  def exactDropList(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("fp", TextOps.fingerprint(col("text")))
    val keepers = docs.groupBy("fp").agg(min("doc_id").as("keep_doc_id"))
    docs.join(keepers, Seq("fp"))
      .filter(col("doc_id") =!= col("keep_doc_id"))
      .select("doc_id", "keep_doc_id")
  }

  /** Word n-gram shingle sets per document (distinct), the substrate for
    * Jaccard similarity / MinHash. Explode is a narrow op; distinct is
    * the only shuffle. */
  def wordShingles(docs: DataFrame, n: Int): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), greatest(size(col("toks")) - n, lit(0))),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))).as("shingle"))
      .filter(size(split(col("shingle"), " ")) === n)
      .distinct()
  }

  /** Exact pairwise Jaccard over word 3-gram shingles: candidate pairs
    * share at least one "rare" shingle (2 <= df <= maxDocFreq), then the
    * TRUE Jaccard is computed over the FULL shingle sets of each
    * candidate pair and filtered at minJaccard.
    *
    * Scale notes: the shingle join is the classic "similarity join";
    * hot shingles (stopword n-grams) are the skew risk, so CANDIDATE
    * GENERATION drops shingles occurring in more than `maxDocFreq` docs
    * (a shingle shared by thousands of docs carries ~no discriminating
    * signal but O(df^2) join cost). The VERIFY intersection must then
    * run over the full sets — counting only rare shingles would both
    * underestimate jaccard and misrank pairs. Residual candidate-recall
    * caveat (inherent to any df-capped generation): a qualifying pair
    * whose EVERY shared shingle is hotter than maxDocFreq is never
    * generated; at minJaccard 0.25 such a pair needs >= 25% of its
    * shingles each shared by >1000 docs — pathological boilerplate,
    * which the exact-dedup pass catches when literal. The df >= 2 side
    * of the filter is lossless (a df-1 shingle cannot be shared).
    */
  def jaccardPairs(spark: SparkSession, sfDir: String,
      n: Int = 3, minJaccard: Double = 0.25,
      maxDocFreq: Long = 1000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val sh = wordShingles(docs, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    // ONE shuffle of the shingle stream: each shingle groups to its full
    // doc list through the all-or-nothing collector (NULL = df over the
    // cap, the same verdict as the former df-count filter; O(cap) state
    // per shingle — math.min clamps a Long cap that would wrap negative
    // and silently drop every shingle group). size >= 2 keeps the
    // lossless df >= 2 side of the old filter.
    val grouped = sh.groupBy("shingle")
      .agg(graft.canon.BoundedAgg.allOrNothing[Long](col("doc_id"),
        math.min(maxDocFreq, Int.MaxValue.toLong).toInt).as("ms"))
    // The Blocking.pairs stream enumerates EVERY sub-cap-shingle
    // co-occurrence of a pair exactly once (shingle sets are distinct
    // per doc), so grouping it counts the sub-cap part of the
    // intersection directly — the former shape re-derived the same
    // counts by joining the distinct candidate set back onto the FULL
    // shingle table twice (measured ~59M join rows at sf0.1 for a 1.1M
    // pair candidate set; guide §2.3 "aggregate before you shuffle").
    val interRare = Blocking
      .pairs(grouped.filter(col("ms").isNotNull && size(col("ms")) >= 2),
        "doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter_rare"))
    // Shingles the cap DROPPED (ms IS NULL) are missing from that
    // stream, yet the exact verify must count them too: each candidate
    // adds the over-cap shingles both its docs hold. With none dropped,
    // AQE's empty-relation propagation removes this branch at runtime.
    val hot = sh.join(grouped.filter(col("ms").isNull).select("shingle"), "shingle")
    val interHot = interRare.select("doc_a", "doc_b")
      .join(hot.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(hot.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter_hot"))
    val inter = interRare.join(interHot, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("inter_rare") + coalesce(col("inter_hot"), lit(0L))).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("set_size", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("set_size", "size_b"), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** MinHash+LSH near-duplicate pairs: shingle -> 128-hash minhash
    * signature -> 32 banded keys -> equi-self-join on band -> EXACT
    * Jaccard verify >= minJaccard. The band join replaces the all-pairs
    * product (the 10^12-doc scale path); the exact verify makes the
    * output identical to exact all-pairs Jaccard whenever band
    * parameters give ~1 recall at the threshold (here: P(miss | J=0.8)
    * ~= 5e-8 with b=32, r=4 — the testdata near-dups all have J >= 0.8,
    * measured). Signature computation is a narrow mapPartitions; the
    * only shuffles are the band join and the per-doc shingle-set agg.
    */
  def minhashLshPairs(spark: SparkSession, sfDir: String,
      n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val banded = docs.as[(Long, String)].mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val sh = MinHasher.wordShingles(text, n)
        if (sh.isEmpty) Iterator.empty
        else MinHasher.bandKeys(MinHasher.signature(sh)).iterator.map(b => (id, b))
      }
    }.toDF("doc_id", "band")
    // hot-band guard (MaxBandSize): a band shared by k docs costs
    // k^2/2 join rows with ~no signal, so an over-cap band's doc list
    // is NULL and Blocking.pairs drops it.
    val bandDocs = banded.groupBy("band")
      .agg(graft.canon.BoundedAgg.allOrNothing[Long](col("doc_id"),
        MaxBandSize).as("ms"))
    val cands = Blocking.pairs(bandDocs, "doc_a", "doc_b").distinct()
    // exact verify on candidates only: per-doc distinct shingle sets
    val sets = wordShingles(docs, n)
      .groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("sset"),
        count(lit(1)).as("set_size"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("sa"),
        col("set_size").as("size_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("sb"),
        col("set_size").as("size_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The per-document 64-bit simhash values — dumped so the driver's
    * oracle can verify [[simhashPairs]]' banding independently: DuckDB
    * recomputes ALL pairs at Hamming <= 3 from these values
    * (bit_count(xor(...))), which must equal the banded+verified pair
    * set exactly (the 4x16 pigeonhole guarantees completeness). The
    * hash VALUES are trust-the-dump; the pair-generation logic is not. */
  def simhashValues(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].mapPartitions { it =>
        it.map { case (id, text) => (id, SimHasher.simhash(text)) }
      }.toDF("doc_id", "simhash")
  }

  /** SimHash near-duplicate pairs: 64-bit simhash over whitespace
    * tokens ([[simhashValues]]), banded into 4 x 16-bit blocks
    * (pigeonhole: any pair at Hamming distance <= 3 shares a block),
    * uncapped per-block lists through [[Blocking.pairs]] (the oracle's
    * completeness check needs every pair), exact Hamming verify. */
  def simhashPairs(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    val blockKeysUdf = udf((h: Long) => SimHasher.blockKeys(h))
    // (doc_id, simhash) members: `a < b` orders by doc_id first, and
    // the hash rides along to the verify
    val lists = simhashValues(spark, sfDir)
      .select(struct(col("doc_id"), col("simhash")).as("m"),
        explode(blockKeysUdf(col("simhash"))).as("block"))
      .groupBy("block").agg(collect_list(col("m")).as("ms"))
    Blocking.pairs(lists, "a", "b").distinct()
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash") bitwiseXOR col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
