package graft.canon

import graft.embed.{CosineSimilarity, HashingEmbedder}
import graft.lsh.{Blocking, HyperplaneLSH, MinHasher}
import graft.ops.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity canonicalization (SURVEY.md §2.4 G9-G12):
  *
  *  1. deterministic name normalization — the stand-in for the LLM
  *     clean pass (E6): strip decoration suffixes listed in the
  *     reference clean prompt (promt.py:187-189) and trailing
  *     punctuation decoration;
  *  2. G12 lowercase-name pre-merge as a salted two-phase aggregate
  *     (hot entities produce millions of mentions; the salt bounds
  *     per-task state, the second phase merges S partials per name);
  *  3. G9 candidate pairs via MinHash-LSH over char-3-gram shingles of
  *     the embedding-normalized name (north rule: "connected components
  *     over a MinHash-LSH candidate-pair graph"), replacing the
  *     reference's O(n^2) all-pairs cosine (Base_Neo4j.py:508-626);
  *  4. exact verify: hashing-embedder cosine >= 0.95 on candidates only
  *     (threshold from Base_Neo4j.py:538), via the codegen'd
  *     CosineSimilarity expression;
  *  5. G10 connected components (large-star/small-star);
  *  6. G11 representative merge: the richest member (most mentions,
  *     deterministic tie-break on name) names the canonical entity;
  *     list-properties union with a documented cap (SURVEY.md §7.4#4).
  */
object Canonicalizer {

  /** Decoration suffixes from the reference clean prompt. */
  private val decorations = Seq("装置", "产品", "类型", "某某", "一种")

  def normalizeName(name: String): String = {
    var t = name.strip()
    var changed = true
    while (changed) {
      changed = false
      decorations.foreach { d =>
        if (t.length > d.length + 1 && t.endsWith(d)) {
          t = t.dropRight(d.length); changed = true
        }
      }
      // trailing decoration punctuation (e.g. "·" alias markers)
      while (t.length > 2 && "·•:：-—".indexOf(t.last) >= 0) {
        t = t.dropRight(1); changed = true
      }
    }
    t
  }

  /** Text embedded for similarity: lowercased name with whitespace and
    * decoration punctuation removed (so spacing/punct alias variants
    * embed identically), mirroring the reference's
    * "{name}: {descriptions}" embed text (Base_Neo4j.py:298). */
  def embedKey(name: String): String =
    name.toLowerCase.filterNot(c =>
      Character.isWhitespace(c) || "·•:：-—_/\\(),.，。（）".indexOf(c) >= 0)

  private val normalizeNameUdf = udf(normalizeName _)
  private val embedUdf = udf((s: String) => HashingEmbedder.embed(embedKey(s)))
  /** Name banding: 16 bands x 8 rows over the 128-hash signature.
    * EMBEDDING-IDENTICAL alias pairs (embedKey folds case/punct/space
    * variants, normalizeName strips decorations BEFORE shingling) have
    * J = 1 and collide on EVERY band at any row count — recall 1.0 by
    * construction FOR THOSE pairs. Non-identical keys can also pass the
    * cosine-0.95 merge gate (hashed-bucket collisions inflate cosine
    * above raw n-gram overlap); for those the detection probability is
    * the banding curve below (~0.95 at J = 0.8). Measured: CanonicalizerSpec
    * gates pair completeness = 1.0 against all-pairs cosine over a
    * 150-page vocabulary, but its 32 gate-clearing pairs all share
    * embedding keys; for non-identical keys the evidence is the curve
    * and merges bit-identical across both bandings at 1M and 4M pages.
    * Rows = 8 (not the doc-dedup default 4)
    * suppresses false candidates by ~J^4 per band: at a web-scale
    * vocabulary the Zipf head is dense with structurally-similar code
    * strings whose J ∈ [0.2, 0.5] band-collides constantly at r = 4
    * (measured 16.5M candidate pairs over 870k names at 4M pages) but
    * whose cosine is far below the 0.95 verify — pure wasted verify
    * volume. A hypothetical J = 0.8 near-miss still detects with
    * P = 1-(1-0.8^8)^16 ≈ 0.95; anything with lower shingle overlap
    * cannot reach cosine 0.95 over the same n-gram space. */
  private def bandsUdf(nameBands: Int, nameRows: Int) = udf { (s: String) =>
    // shingle the embedding-normalized form so spacing/punct alias
    // variants land in identical bands (their embeddings are identical)
    val k = embedKey(s)
    val shingles = if (k.length < 3) Set(k) else k.sliding(3).toSet
    MinHasher.bandKeys(MinHasher.signature(shingles), nameBands, nameRows)
  }

  /** G12: mentions (entityName, entityType, entityDescription, chunkId
    * [, ord]) -> one row per normalized name (name_key, n_mentions,
    * aliases, descriptions, source_chunks, display_name, entity_type,
    * bands). A plan. */
  def names(mentions: DataFrame,
      cfg: graft.GraftConfig = graft.GraftConfig.default): DataFrame = {
    val (salts, listCap) = (cfg.salts, cfg.listCap)

    // First-writer-wins semantics: the reference fixes id_/entity_type
    // at the FIRST mention's values (MERGE ... ON CREATE SET,
    // event_graphrag_neo4j.py:336-360) and its lowercase fallback merge
    // keeps the OLDER node — name included (Base_Neo4j.py:922-950,
    // elementId(e1) > elementId(e2) deletes the newer). A parallel
    // engine has no wall-clock insertion order, so the deterministic
    // total order (chunkId, ord) — chunk id, then mention position
    // within the chunk — stands in for creation order. Callers without
    // a mention ordinal get ord = 0.
    val withOrd =
      if (mentions.columns.contains("ord")) mentions
      else mentions.withColumn("ord", lit(0))

    // ---- G12 salted two-phase lowercase merge --------------------------
    val keyed = withOrd
      .withColumn("norm_name", normalizeNameUdf(col("entityName")))
      .withColumn("name_key", lower(col("norm_name")))
      .withColumn("salt", pmod(xxhash64(col("chunkId")), lit(salts)))

    // `aliases` (the distinct raw surfaces per normalized key) is the
    // ONLY uncapped accumulator: it is vocabulary-bounded (case and
    // decoration variants of one name), not mention-bounded like
    // descriptions/chunks, and nameMap correctness needs every raw
    // surface — triples whose surface fell off a cap would silently
    // drop at the endpoint rewrite.
    // descriptions/source_chunks accumulate through BoundedAgg: O(cap)
    // aggregation state per (name, salt) even when a hot entity
    // contributes millions of mentions (collect_set-then-slice would
    // buffer every distinct value first — SURVEY.md §7.4#4)
    // first_w: the lexicographically-first (chunkId, ord) mention's
    // (display name, type) — min over the struct is the distributable
    // form of min_by(…, (chunkId, ord)) that survives the salted
    // two-phase split ((chunkId, ord) is unique, so the order is total)
    keyed
      .groupBy("name_key", "salt")
      .agg(
        count(lit(1)).as("n_mentions"),
        min(struct(col("chunkId"), col("ord"), col("norm_name"),
          col("entityType"))).as("first_w"),
        sort_array(collect_set("entityName")).as("aliases"),
        BoundedAgg.distinctMin(col("entityDescription"), listCap).as("descriptions"),
        BoundedAgg.distinctMin(col("chunkId"), listCap).as("source_chunks"))
      .groupBy("name_key")
      .agg(
        sum("n_mentions").as("n_mentions"),
        min("first_w").as("first_w"),
        array_distinct(sort_array(flatten(collect_set("aliases")))).as("aliases"),
        BoundedAgg.distinctMinFlat(col("descriptions"), listCap).as("descriptions"),
        BoundedAgg.distinctMinFlat(col("source_chunks"), listCap).as("source_chunks"))
      .withColumn("display_name", col("first_w.norm_name"))
      .withColumn("entity_type", col("first_w.entityType"))
      .drop("first_w")
      // bands belong to the name row, so wherever the caller materializes
      // it the 128-minhash signature UDF runs once per name. The
      // embedding column deliberately does NOT: it is a cheap
      // deterministic function of display_name, recomputed at the verify
      // site, so the materialized frame stays ~256 B/row slimmer.
      .withColumn("bands",
        bandsUdf(cfg.nameBands, cfg.nameRows)(col("display_name")))
  }

  /** G9-G11 over [[names]]' rows -> canonical entity table + name map.
    * Only [[ConnectedComponents]]' own checkpoints materialize here, so
    * the caller materializes `names`, which this reads three times;
    * `nameRows` (its count, if known) feeds the verify's broadcast gate.
    *
    * Returns (canonicalEntities, nameMap):
    *  - canonicalEntities: canonical_id, entity_name, entity_type,
    *    n_mentions, aliases, descriptions, source_chunks, component_id
    *  - nameMap: entity_name (raw) -> (name_key, canonical_id)
    */
  def canonicalize(names: DataFrame, nameRows: Option[Long],
      cfg: graft.GraftConfig = graft.GraftConfig.default)
      : (DataFrame, DataFrame) = {
    val spark = names.sparkSession
    val (mergeThreshold, listCap, maxBandSize) =
      (cfg.mergeThreshold, cfg.listCap, cfg.maxBandSize)

    // ---- G9 MinHash-LSH candidates + cosine verify ---------------------
    // hot-band guard (SURVEY.md §4.3): a band key shared by k names
    // contributes k^2/2 candidate pairs; beyond the cap the band carries
    // ~no signal (it is a degenerate hash, e.g. of near-empty shingle
    // sets) but quadratic cost, so it is dropped. A *real* near-dup
    // cluster collides on many of the NameBands (= 16) bands — alias
    // variants on ALL of them — so dropping pathological bands costs
    // ~no recall.
    // THIN banding: only (name_key, band) rides the band shuffle
    // — shipping the 64-float embeddings through the banding explode
    // multiplied the shuffle volume by ~10x at a 10^5-name vocabulary;
    // embeddings join back onto the (much smaller) candidate pair set
    // for the exact verify.
    // Each band groups to its member list (NULL = band over the
    // hot-band cap -> dropped); Blocking.pairs streams the pairs.
    val banded0 = names.select(col("name_key"),
        explode(col("bands")).as("band"))
    val bandMembers = banded0.groupBy("band")
      .agg(BoundedAgg.allOrNothing[String](col("name_key"), maxBandSize).as("ms"))
    val candPairs = Blocking.pairs(bandMembers, "src", "dst").distinct()
    // The exact verify joins ONE narrow (name_key, display_name) lookup
    // and recomputes the embedding INLINE (a cheap deterministic function
    // of display_name) instead of shipping 64-float vectors. Both endpoint
    // joins reference the one un-renamed subtree with explicit
    // conditions, so ReuseExchange builds and ships it ONCE. The gate
    // hints a broadcast from the caller's count of `names`; above the cap
    // or without a count Spark decides. The hint stays although AQE
    // converts at runtime: unhinted, the in-memory path shuffled the
    // candidate side first (+2 shuffle exchanges at 2,000 pages, +3 at
    // 100,000) before AQE broadcast.
    val disp = graft.GraftConfig.broadcastGate(
      names.select(col("name_key"), col("display_name")), nameRows, cfg)
    val candidates = candPairs
      .join(disp, col("src") === col("name_key"))
      .withColumnRenamed("display_name", "da").drop("name_key")
      .join(disp, col("dst") === col("name_key"))
      .withColumnRenamed("display_name", "db").drop("name_key")
      .withColumn("ea", embedUdf(col("da")))
      .withColumn("eb", embedUdf(col("db")))
    val verified = candidates
      .withColumn("cos", CosineSimilarity(col("ea"), col("eb")))
      .filter(col("cos") >= mergeThreshold)
      .select("src", "dst")

    // ---- G10 connected components --------------------------------------
    // CC checkpoints the deduped verified edges once (the LSH band join
    // runs in that job, hence the G9 label) and adds each name's
    // component to `names`; the merge and the name map both read it
    val withComp = graft.pipeline.Jobs.named(spark, "canon: LSH band join + cosine verify (G9)") {
      ConnectedComponents.components(verified,
        names.withColumnRenamed("name_key", "id"), cfg.ccLocalSolveMax)
    }

    // ---- G11 representative merge ---------------------------------------
    val canonical = withComp
      .groupBy(col("component").as("canonical_id"))
      .agg(
        max_by(col("display_name"), struct(col("n_mentions"), col("id"))).as("entity_name"),
        max_by(col("entity_type"), struct(col("n_mentions"), col("id"))).as("entity_type"),
        sum("n_mentions").as("n_mentions"),
        count(lit(1)).as("n_merged_names"),
        BoundedAgg.distinctMinFlat(col("aliases"), listCap).as("aliases"),
        BoundedAgg.distinctMinFlat(col("descriptions"), listCap).as("descriptions"),
        BoundedAgg.distinctMinFlat(col("source_chunks"), listCap).as("source_chunks"))

    // raw name -> canonical id (for triple endpoint rewrite), recovered
    // from each name's alias set (tiny) instead of re-exploding the
    // mention stream; name_key rides along so the driver oracle can
    // recompute the G12 merge and the CC min-representative invariant
    // from the dumped map
    val nameMap = withComp
      .select(explode(col("aliases")).as("entity_name"), col("id").as("name_key"),
        col("component").as("canonical_id"))

    (canonical, nameMap)
  }

  /** The event path's one representative rule, shared by [[eventVecs]]
    * and `KGPipeline.eventEdges`: events with equal content collapse to
    * their min(event_id). One row per content: (ch, rep_id, carry*). */
  def eventReps(events: DataFrame, carry: Column*): DataFrame =
    events.select(col("*"), eventContentKey).groupBy("ch")
      .agg(min(col("event_id")).as("rep_id"), carry: _*)

  /** An event's content key `ch`: full md5 equality is the repo's
    * deterministic stand-in for content equality (the G1/G2 chunk dedup
    * key), so the hash, not the widest column, is the shuffle key. */
  def eventContentKey: Column = md5(col("content")).as("ch")

  /** Distinct-content representative embeddings for [[eventKnn]]. Each
    * event embeds its lowercased content where it is read, so no event
    * text reaches the representative aggregate (equal contents embed
    * equally). Public so the driver can dump the SAME vectors the KNN
    * consumed and the DuckDB oracle can recompute the ranking from them. */
  def eventVecs(events: DataFrame): DataFrame = {
    val embedContentUdf = udf((s: String) => HashingEmbedder.embed(s.toLowerCase))
    eventReps(events.withColumn("emb", embedContentUdf(col("content"))),
      any_value(col("emb")).as("emb")).select(col("rep_id").as("event_id"), col("emb"))
  }

  /** G13 event disambiguation (reference event_graphrag_neo4j.py:600-673:
    * GDS KNN topK=10, similarityCutoff=0.85 over event embeddings,
    * emitting SIMILAR_TO edges): hyperplane-LSH table keys over the
    * content embedding replace the server-side KNN index — per-bucket
    * member lists through [[Blocking.pairs]], exact cosine once per
    * unordered pair (it is symmetric bit for bit), both orientations
    * ranked by `VectorOps.topK`. Input: events with (event_id, content);
    * output (src_event, dst_event, rank). The lists are uncapped on
    * purpose: contents come only from the KB's 28 event specs, whose
    * largest bucket holds 3 (CanonicalizerSpec), at any corpus size. */
  def eventKnn(events: DataFrame, topK: Int, cutoff: Double): DataFrame = {
    // exact-duplicate contents collapse to one representative BEFORE the
    // similarity join: identical contents are cosine-1.0 twins, and a
    // hot event repeated across millions of pages would otherwise form
    // one quadratic LSH bucket — the hot-entity star problem (SURVEY.md
    // §4.3) in event form (the reference's all-pairs KNN has the same
    // blowup; this is the documented scale deviation).
    val emb = eventVecs(events)
    val buckets = emb
      .select(col("event_id"), explode(HyperplaneLSH.keys(col("emb"))).as("bucket"))
      .groupBy("bucket").agg(collect_list(col("event_id")).as("ms"))
    // ONE un-renamed lookup for both verify joins, broadcast (it holds
    // at most the KB's 28 representatives): one build serves both
    val lookup = broadcast(emb)
    val verified = Blocking.pairs(buckets, "a", "b").distinct()
      .join(lookup, col("a") === col("event_id"))
      .withColumnRenamed("emb", "ea").drop("event_id")
      .join(lookup, col("b") === col("event_id"))
      .withColumnRenamed("emb", "eb").drop("event_id")
      .select(col("a"), col("b"), CosineSimilarity(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= cutoff)
    // both orientations of each verified pair
    val scored = verified.select(explode(array(
      struct(col("a").as("query_id"), col("b").as("neighbor_id")),
      struct(col("b").as("query_id"), col("a").as("neighbor_id")))).as("p"), col("cos"))
    VectorOps.topK(scored.select("p.*", "cos"), topK)
      .select(col("query_id").as("src_event"), col("neighbor_id").as("dst_event"),
        col("rank"))
  }

  /** G5 semantics: rewrite triple endpoints through the canonical map
    * (inner joins drop dangling edges like Cypher MATCH), then dedup on
    * (subj, pred, obj).
    *
    * The final aggregate is salted two-phase: the distinct-edge count is
    * tiny relative to the triple count (hot facts repeat across a large
    * fraction of the corpus), so a single-phase `collect_set(chunkId)`
    * would funnel millions of rows into a handful of groups with
    * unbounded map-side set state — the same hot-key pattern as G12.
    *
    * `nameMapRows` (the caller's count of `nameMap`, if it has one)
    * feeds the broadcast gate: a map within its cap broadcasts, so the
    * (much larger) triple stream never shuffles before the edge
    * aggregate — the same dictionary-broadcast rule the extraction stage
    * uses. ~5M rows ≈ low hundreds of MB. A larger or unknown count
    * leaves the joins to Spark. */
  def rewriteTriples(triples: DataFrame, nameMap: DataFrame,
      nameMapRows: Option[Long],
      cfg: graft.GraftConfig = graft.GraftConfig.default): DataFrame = {
    val (listCap, salts) = (cfg.listCap, cfg.salts)
    // ONE map subtree referenced by both endpoint joins: the two build
    // sides are canonically identical plans, so ReuseExchange ships and
    // builds the broadcast (or shuffle) ONCE — the previous per-endpoint
    // projections (aliased to subj/obj) defeated exchange reuse and paid
    // the driver-side broadcast build twice per run.
    val bmap = graft.GraftConfig.broadcastGate(
      nameMap.select(col("entity_name"), col("canonical_id")), nameMapRows, cfg)
    triples
      .join(bmap, col("subj") === col("entity_name"))
      .withColumnRenamed("canonical_id", "subj_id")
      .drop("entity_name")
      .join(bmap, col("obj") === col("entity_name"))
      .withColumnRenamed("canonical_id", "obj_id")
      .drop("entity_name")
      .filter(col("subj_id") =!= col("obj_id"))
      .withColumn("salt", pmod(xxhash64(col("chunkId")), lit(salts)))
      .groupBy("subj_id", "pred", "obj_id", "salt")
      .agg(
        count(lit(1)).as("n_sources"),
        min("description").as("description"),
        BoundedAgg.distinctMin(col("chunkId"), listCap).as("source_chunks"))
      .groupBy("subj_id", "pred", "obj_id")
      .agg(
        sum("n_sources").as("n_sources"),
        min("description").as("description"),
        BoundedAgg.distinctMinFlat(col("source_chunks"), listCap)
          .as("source_chunks"))
  }
}
