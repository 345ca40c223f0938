package graft

import graft.sink.GraphSink.checkCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a
  * training-data-pipeline operator); each `oracleSql` entry is the exact
  * DuckDB-SQL equivalent over the same parquet tables. Column names and
  * types are aligned on both sides (the driver's compare hashes values
  * after sorting columns by name).
  */
object SparkEntry {

  /** Pipeline configuration for the kg_* query family — settable from
    * the Verify/Bench CLI (`--merge-threshold=0.9` etc., parsed by
    * [[GraftConfig.fromArgs]]) so the typed config surface reaches the
    * driver-graded queries, not only KGJob. The queries map's
    * `(SparkSession, String) => DataFrame` signature is fixed by the
    * driver contract, hence a field rather than a parameter. */
  @volatile var config: GraftConfig = GraftConfig.default

  /** Flagship: the full KG-construction DAG (SURVEY.md §7.2) on a small
    * synthetic pages table — canonical edges with entity names and
    * provenance counts, built under [[config]]. Driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame =
    namedEdges(graft.pipeline.KGPipeline.run(spark, 200, partitions = 8,
      cfg = config))

  /** [[entry]]'s projection of a pipeline result. */
  private[graft] def namedEdges(r: graft.pipeline.KGPipeline.Result): DataFrame = {
    val names = r.entities.select(col("canonical_id"), col("entity_name"))
    r.edges
      .join(names.withColumnRenamed("canonical_id", "subj_id")
        .withColumnRenamed("entity_name", "subj_name"), "subj_id")
      .join(names.withColumnRenamed("canonical_id", "obj_id")
        .withColumnRenamed("entity_name", "obj_name"), "obj_id")
      .select("subj_name", "pred", "obj_name", "n_sources")
      .orderBy(desc("n_sources"), asc("subj_name"), asc("obj_name"))
  }

  /** Same normalization the canonicalizer applies per mention — dumped
    * alongside each mention so the kg_entities oracle recomputes the
    * aggregation arithmetic, not the (non-SQL) string normalization. */
  private val normalizeNameUdf =
    udf(graft.canon.Canonicalizer.normalizeName _)

  /** KG pipeline results cached per (session, scale dir) — Verify runs
    * each query separately; the DAG is shared. Keyed by the SESSION
    * too, synchronized, and stopped-session entries evicted: a cache
    * keyed by dir alone would hand a second SparkSession in the same
    * JVM Datasets bound to the first session's dead SparkContext, and
    * TrieMap.getOrElseUpdate could build (and persist) the 100k-page
    * pipeline twice under a concurrent first probe (same discipline as
    * VectorOps.mmrFetchCache). */
  private val kgCache = scala.collection.mutable
    .Map.empty[(SparkSession, String, GraftConfig), graft.pipeline.KGPipeline.Result]

  /** Diagnostic accessor for BenchExtra plan dumps (check queries
    * collect driver-side, so their query-map frames explain as
    * LocalTableScan; this lets BenchExtra reach the inner plans). */
  private[graft] def kgResult(s: SparkSession, d: String)
      : graft.pipeline.KGPipeline.Result = kg(s, d)

  /** The integrity checks over the cached result, their id sets gated
    * on the row counts of its persisted node frames. */
  private[graft] def kgIntegrity(s: SparkSession, d: String): DataFrame = {
    val r = kg(s, d)
    graft.sink.GraphSink.integrity(r, config, Some(r.entities.count()),
      Some(r.events.count()), Some(r.chunks.count()))
  }

  private def kg(s: SparkSession, d: String): graft.pipeline.KGPipeline.Result =
    kgCache.synchronized {
      kgCache.filterInPlace { case ((sess, _, _), _) =>
        !sess.sparkContext.isStopped
      }
      // config participates in the key: a CLI-flagged Verify run must
      // never reuse a pipeline built under different knobs
      val cfg = config
      kgCache.getOrElseUpdate((s, d, cfg), {
        val n = graft.pages.PagesGenerator.countForScale(Tables.scaleOf(d))
        val r = graft.pipeline.KGPipeline.run(s, n, cfg = cfg)
        r.copy(
          chunks = r.chunks.persist(),
          mentions = r.mentions.persist(),
          triples = r.triples.persist(),
          events = r.events.persist(),
          entities = r.entities.persist(),
          // nameMap is already runOnPages' counted checkpoint
          edges = r.edges.persist(),
          // participates (explode + name-map join + distinct) and
          // eventSimilar (the event-KNN LSH self-join) were the two
          // UN-persisted result frames: kg_stats, kg_stats_written,
          // kg_integrity, kg_participates and kg_event_similar each
          // re-executed them from scratch (measured ~2-4 s per consumer
          // at sf0.1 — guide §2.4, do not recompute what 5 consumers
          // share)
          participates = r.participates.persist(),
          eventSimilar = r.eventSimilar.persist(),
          eventEdges = r.eventEdges.persist(),
          eventRels = r.eventRels.persist())
      })
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- KG-construction pipeline (north rule; ScalaTest carries the
    // P/R gate, the driver records rows-only here: no SQL oracle can
    // express the pipeline) ---
    "kg_pages" -> ((s, d) => kg(s, d).pages.toDF()
      .select(col("url"), col("lang"), length(col("text")).as("text_len"))),
    // content + content_hash ride along so the kg_evidence oracle can
    // pick the engine's min_by(content_hash) survivor per 8-hex id and
    // re-normalize the text in SQL
    "kg_chunks" -> ((s, d) => kg(s, d).chunks.toDF()
      .select("chunk_id", "url", "ord", "header_level", "header_name",
        "content", "content_hash")),
    // surface rides along so the kg_evidence oracle can recompute the
    // extraction evidence invariant (every surface occurs in its
    // chunk's normalized content) from the dumps; ord + norm_name ride
    // along so the kg_entities oracle can recompute the first-writer
    // (chunkId, ord)-min display name/type and the per-key mention
    // counts without re-deriving the (non-SQL) name normalization
    "kg_mentions" -> ((s, d) => kg(s, d).mentions
      .select(col("chunk_id"), col("ord"), col("surface"), col("entityName"),
        col("entityType"),
        normalizeNameUdf(col("entityName")).as("norm_name"))),
    "kg_triples" -> ((s, d) => kg(s, d).triples
      .select("chunk_id", "subj", "pred", "obj")),
    "kg_entities" -> ((s, d) => kg(s, d).entities
      .select("canonical_id", "entity_name", "entity_type", "n_mentions", "n_merged_names")),
    "kg_edges" -> ((s, d) => kg(s, d).edges
      .select("subj_id", "pred", "obj_id", "n_sources")),
    // scalar columns ONLY: an ARRAY column in a dump crashes the driver
    // harness's pandas row sort (round-3 regression — kg_events was
    // `err`); participants live in the exploded dump below
    "kg_events" -> ((s, d) => kg(s, d).events
      .select("event_id", "chunk_id", "content", "event_type")),
    // exploded (event_id, entity_name) participants — the scalar-shaped
    // input the kg_participates oracle resolves through the name map
    "kg_event_participants" -> ((s, d) => kg(s, d).events
      .select(col("event_id"), explode(col("participants")).as("entity_name"))),
    // per-chunk event relations (pre-aggregation): the input the
    // kg_event_edges oracle recomputes G6 from
    "kg_event_rels" -> ((s, d) => kg(s, d).eventRels
      .select("chunk_id", "head_event_id", "tail_event_id",
        "relation_type", "description")),
    "kg_stats" -> ((s, d) => graft.sink.GraphSink.stats(kg(s, d))),
    // raw surface -> (normalized key, canonical id): the intermediate
    // the canonicalization oracles recompute through (same dump-as-
    // input pattern as simhash_values / zh_corpus)
    "kg_name_map" -> ((s, d) => kg(s, d).nameMap
      .select("entity_name", "name_key", "canonical_id")),
    // per-entity counts + winner key, DuckDB-recomputed from the dumped
    // mentions x name map: checks the salted two-phase mention
    // aggregate, the CC component sums, the merged-name count, and the
    // max_by(n_mentions, name_key) representative choice
    // (lower(display_name) == the winning name_key by construction)
    "kg_entity_counts" -> ((s, d) => kg(s, d).entities
      .select(col("canonical_id"), lower(col("entity_name")).as("winner_key"),
        col("n_mentions"), col("n_merged_names"))),
    // alias-closure invariants (oracle-recomputed; see GraphSink)
    "kg_alias_closure" -> ((s, d) =>
      withZeroAnchor(graft.sink.GraphSink.aliasClosure(kg(s, d)))),
    // partitioned write path: write nodes/edges via GraphSink.write and
    // count back from the WRITTEN tables; oracle rebuilds each class
    // count from the dumps
    // per-JVM path: two concurrent runs at the same scale must not
    // overwrite each other's half-read tables
    "kg_stats_written" -> ((s, d) => graft.sink.GraphSink.writtenStats(
      s, kg(s, d),
      s"${System.getProperty("java.io.tmpdir")}/graft_graph_sf${Tables.scaleOf(d)}" +
        s"_p${ProcessHandle.current().pid()}")),
    "kg_participates" -> ((s, d) => kg(s, d).participates),
    "kg_event_similar" -> ((s, d) => kg(s, d).eventSimilar),
    // the distinct-content representative embeddings the event KNN
    // consumed, JSON-encoded to a scalar column (an ARRAY column would
    // crash the harness's pandas sort — the kg_events round-3 lesson):
    // the kg_event_similar oracle re-ranks the dumped pairs by exact
    // cosine over these vectors and re-applies the 0.85 cutoff
    "kg_event_vecs" -> ((s, d) => graft.canon.Canonicalizer
      .eventVecs(kg(s, d).events)
      .select(col("event_id"), to_json(col("emb")).as("vec_json"))),
    "kg_event_edges" -> ((s, d) => kg(s, d).eventEdges
      .select("head_id", "tail_id", "relation_type", "n_sources")),
    "kg_integrity" -> ((s, d) => withZeroAnchor(kgIntegrity(s, d))),
    // extraction evidence invariants (the last trust-the-ScalaTest gap
    // on the extraction side): every mention surface occurs in its
    // chunk's normalized content, and every triple endpoint appears
    // among that chunk's mention names — recomputed by the oracle from
    // the kg_mentions/kg_triples/kg_chunks dumps with the
    // normalization ported to SQL
    "kg_evidence" -> ((s, d) => kgEvidence(s, d)),
    // id-recipe + referential-integrity invariants: chunk_id/content_hash
    // are md5-recomputable from the dumped content, event ids follow the
    // chunkId_event_ord recipe, and every event/event-rel chunk_id
    // resolves — recomputed by the oracle from the dumps alone
    "kg_identity" -> ((s, d) => kgIdentity(s, d)),
    // the north-rule P/R>=0.95 acceptance gate, driver-graded: gold +
    // extracted triples per golden-fixture chunk (scalar rows; the
    // oracle recomputes tp/fp/fn and the gates from this dump)
    "kg_pr_triples" -> ((s, _) => kgPrTriples(s)),
    "kg_pr_fixture" -> ((s, _) => kgPrFixture(s)),
    // --- relational core (SURVEY.md §2.6) ---
    "q_agg_upsert" -> ((s, d) => graft.ops.RelationalOps.aggUpsert(s, d)),
    "q_agg_pricing" -> ((s, d) => graft.ops.RelationalOps.aggPricing(s, d)),
    "q_topk" -> ((s, d) => graft.ops.RelationalOps.topK(s, d)),
    "q_window_topk" -> ((s, d) => graft.ops.RelationalOps.windowTopPerGroup(s, d)),
    "q_anti_join" -> ((s, d) => graft.ops.RelationalOps.antiJoin(s, d)),
    "q_semi_join" -> ((s, d) => graft.ops.RelationalOps.semiJoin(s, d)),
    "q_join_agg" -> ((s, d) => graft.ops.RelationalOps.joinAgg(s, d)),
    "q_rrf_fusion" -> ((s, d) => graft.ops.RelationalOps.rrfFusion(s, d)),
    "q_rollup" -> ((s, d) => graft.ops.RelationalOps.aggRollup(s, d)),
    "q_cube" -> ((s, d) => graft.ops.RelationalOps.aggCube(s, d)),
    "q_asof_join" -> ((s, d) => graft.ops.AsofJoin.clickToPriorPurchase(s, d)),
    "q_range_join" -> ((s, d) => graft.ops.RangeJoin.clicksInPurchaseWindow(s, d)),
    // --- dedup family ---
    "dedup_exact" -> ((s, d) => graft.dedup.DedupOps.exactGroups(s, d)),
    "dedup_exact_drop" -> ((s, d) => graft.dedup.DedupOps.exactDropList(s, d)),
    "dedup_jaccard" -> ((s, d) => graft.dedup.DedupOps.jaccardPairs(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => graft.dedup.DedupOps.minhashLshPairs(s, d)),
    "dedup_simhash" -> ((s, d) => graft.dedup.DedupOps.simhashPairs(s, d)),
    "simhash_values" -> ((s, d) => graft.dedup.DedupOps.simhashValues(s, d)),
    // --- similarity search family ---
    "ann_topk" -> ((s, d) => graft.ops.VectorOps.annTopK(s, d)),
    "ann_topk_lsh" -> ((s, d) => graft.ops.VectorOps.annTopKLsh(s, d)),
    "ann_topk_ivf" -> ((s, d) => graft.ops.IvfIndex.ivfTopK(s, d)),
    // durable-index serving paths: write the partitioned index once,
    // probe via planning-time partition pruning — the cross-job 100-TB
    // read shape, here MEASURED (bench per-query block) and
    // rank-oracled, not only plan-asserted
    "ann_topk_lsh_durable" ->
      ((s, d) => graft.ops.VectorOps.annTopKLshDurable(s, d)),
    "ann_topk_ivf_durable" ->
      ((s, d) => graft.ops.IvfIndex.ivfTopKDurable(s, d)),
    "ann_recall" -> ((s, d) => graft.ops.VectorOps.annRecall(s, d)),
    "vec_neardup" -> ((s, d) => graft.ops.VectorOps.nearDupPairs(s, d)),
    "mmr_rerank" -> ((s, d) => graft.ops.VectorOps.mmrRerank(s, d)),
    // MMR inputs as dumps (same collected candidate set the greedy loop
    // consumes): the mmr_rerank oracle re-runs the k-step greedy
    // argmax over these in SQL
    "mmr_candidates" -> ((s, d) => graft.ops.VectorOps.mmrCandidates(s, d)),
    "mmr_pair_sims" -> ((s, d) => graft.ops.VectorOps.mmrPairSims(s, d)),
    "bm25_topk" -> ((s, d) => graft.ops.BM25Ops.topK(s, d)),
    // deterministic zh corpus (pages-table text) + CJK-segmented BM25;
    // the oracle re-reads the dumped corpus and runs the SAME
    // segmentation regex in RE2
    "zh_corpus" -> ((s, _) => graft.ops.BM25Ops.zhCorpus(s)),
    "bm25_topk_zh" -> ((s, _) => graft.ops.BM25Ops.topKZh(s)),
    // --- retrieval read path (SURVEY.md §2.5) ---
    // rounded to 9dp for the cross-engine compare (the <= 2 addends per
    // doc make the double sum order-insensitive; rounding is belt+braces)
    "retrieval_rrf" -> ((s, d) => graft.retrieval.Retrieval.rrf(
        graft.retrieval.Retrieval.multipath(s, d, "spark join vector"))
      .select(col("doc_id"), round(col("rrf_score"), 9).as("rrf_score"),
        col("n_lists"))),
    // dense-retriever top-50 over the PRECOMPUTED embeddings table (no
    // per-row embedding UDF over the corpus — the embedder runs only on
    // the query string); oracle recomputes the cosine in explicit
    // double arithmetic against the query-vector literal, and the rrf
    // oracle additionally re-ranks this dump
    "dense_scores" -> ((s, d) =>
      new graft.retrieval.DenseRetriever().retrieve(s, d, "spark join vector", 50)),
    // thresholds chosen >= 1.6e-3 from the nearest data point at both
    // sf0.01 and sf0.1 (so float-vs-double cannot flip membership) AND
    // with non-empty results — a 0-row oracle row proves nothing
    "retrieval_threshold" -> ((s, d) =>
      graft.retrieval.Retrieval.thresholdSearch(s, d, 0L, 0.3).select("vec_id")),
    "retrieval_threshold_l2" -> ((s, d) =>
      graft.retrieval.Retrieval.thresholdSearch(s, d, 0L, 0.164, "l2").select("vec_id")),
    "retrieval_threshold_ip" -> ((s, d) =>
      graft.retrieval.Retrieval.thresholdSearch(s, d, 0L, 0.8, "ip").select("vec_id")),
    // rounded to 6dp: the oracle joins this against rerank_expected —
    // an INDEPENDENT columnar recompute of the stub scorer (UDF embed +
    // codegen cosine vs the mapPartitions batch path) — and both
    // arithmetics are bit-identical doubles pre-round
    "retrieval_rerank" -> ((s, d) => graft.retrieval.Retrieval.rerank(
        s, d, "spark join vector", Tables.documents(s, d).select("doc_id"))
      .select(col("doc_id"), round(col("rerank_score"), 6).as("rerank_score"))),
    "rerank_expected" -> ((s, d) => rerankExpected(s, d)),
    // --- chunker family (C2-C4) ---
    "chunk_token_windows" -> ((s, d) => chunkQuery(s, d,
      t => graft.chunk.TextSplitters.splitTextOnTokens(t, 64, 8))),
    // overlap=0 here so the coverage identity below is exact (the
    // leaf-overlap path duplicates characters; it stays ScalaTest-
    // covered in TextSplittersSpec)
    "chunk_recursive" -> ((s, d) => chunkQuery(s, d,
      t => graft.chunk.TextSplitters.recursiveSplit(t, 200, 0, List(". ", " ")))),
    "chunk_semantic" -> ((s, d) => chunkQuery(s, d,
      t => graft.chunk.TextSplitters.semanticSplit(t))),
    // C4 number_of_chunks variant: threshold = percentile interpolated
    // from the target chunk count (spliter.py:434-452)
    "chunk_semantic_n" -> ((s, d) => chunkQuery(s, d,
      t => graft.chunk.TextSplitters.semanticSplit(t,
        numberOfChunks = Some(5)))),
    // chunker invariants, DuckDB-recomputed from the dumps above:
    // C3 drops only separator chars (". " / " "), so stripping [. ]
    // from the ord-ordered concatenation must reproduce the stripped
    // original; C4 re-joins sentences with single spaces, so stripping
    // whitespace must; both must cover every doc with dense ordinals
    "chunk_recursive_check" -> ((s, d) => chunkCoverageCheck(s, d,
      t => graft.chunk.TextSplitters.recursiveSplit(t, 200, 0, List(". ", " ")),
      "[. ]", maxLen = Some(200))),
    "chunk_semantic_check" -> ((s, d) => chunkCoverageCheck(s, d,
      t => graft.chunk.TextSplitters.semanticSplit(t),
      "[ \\t\\n\\x0B\\f\\r]", maxLen = None)),
    "chunk_semantic_n_check" -> ((s, d) => chunkCoverageCheck(s, d,
      t => graft.chunk.TextSplitters.semanticSplit(t,
        numberOfChunks = Some(5)),
      "[ \\t\\n\\x0B\\f\\r]", maxLen = None)),
    // --- streaming (stream≡batch, driver-graded) ---
    // consolidated triples from a fixed overlap-replay through the
    // Structured Streaming front; the oracle compares against the
    // pure-batch extraction dump below over the SAME pages
    "stream_consolidate" -> ((s, _) =>
      graft.streaming.StreamOps.replayConsolidatedTriples(s)
        .select("chunk_id", "subj", "pred", "obj", "description")),
    "stream_batch_expected" -> ((s, _) => {
      val pages = graft.pages.PagesGenerator.pages(s, 400L, 8)
      graft.pipeline.KGPipeline
        .extract(s, graft.pipeline.KGPipeline.chunk(pages))
        .triples.select("chunk_id", "subj", "pred", "obj", "description")
    }),
    // --- multimodal plumbing ---
    "mm_decode_meta" -> ((s, d) => graft.mm.MultimodalOps.decodeMeta(s, d)),
    // --- time-window aggregation over the events table ---
    "q_time_window" -> ((s, d) => timeWindowAgg(s, d)),
    // --- text analysis ---
    "text_stats" -> ((s, d) => textStats(s, d)),
    "text_langid" -> ((s, d) => textLangId(s, d)),
    "text_bpe_tokens" -> ((s, d) => textBpeTokens(s, d)),
    "text_fingerprint" -> ((s, d) => textFingerprint(s, d)),
    "text_quality" -> ((s, d) => textQuality(s, d))
  )

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  /** Documents text through a pure splitter, exploded with ordinals —
    * the narrow flatMap shape every chunker runs as in the pipeline. */
  private def chunkQuery(s: SparkSession, d: String,
      split: String => Seq[String]): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) =>
        split(t).zipWithIndex.map { case (c, i) => (id, i, c) }
      }
      .toDF("doc_id", "ord", "chunk")
  }

  /** Appends a `<check>_is_zero` twin row per check carrying the SAME
    * computed count. The oracle emits a literal 0 for the twin, so the
    * driver's hash compare is green iff (a) Spark's and DuckDB's
    * independent recomputations agree (base row) AND (b) the count is
    * actually zero (twin row). Without (b) the gate would be a pure
    * divergence detector: a defect both recomputations can see — e.g.
    * an invented mention surface, or a chunk_id recipe drift that Spark
    * md5 and DuckDB md5 flag identically — would yield equal nonzero
    * counts and pass. */
  private def withZeroAnchor(df: DataFrame): DataFrame = {
    // collect the handful of (check_name, count) rows ONCE and build
    // both the base and twin rows locally: a self-union of the lazy df
    // would execute the whole multi-anti-join check DAG twice per dump
    val s = df.sparkSession
    import s.implicits._
    val rows = df.select(col("check_name"), col("violations"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (rows ++ rows.map { case (n, v) => (n + "_is_zero", v) }).toSeq
      .toDF("check_name", "violations")
  }

  /** The oracle-side twin rows: one literal-zero row per check name. */
  private def zeroAnchorSql(names: Seq[String]): String =
    names.map(n =>
      s"\nUNION ALL SELECT '${n}_is_zero', CAST(0 AS BIGINT)").mkString

  /** Extraction evidence invariants as data rows (check_name,
    * violations) — the Spark side of the kg_evidence oracle:
    *  - every mention surface is a substring of its chunk's NORMALIZED
    *    content (the Aho-Corasick/pattern passes all match over
    *    [[graft.extract.KnowledgeBase.normalize]]d text, so a surface
    *    not found there means the extractor invented evidence);
    *  - every triple subj/obj appears among that chunk's mention names
    *    (the E7 cleaning contract: endpoints are linkable entities).
    * The chunk text is the min_by(content_hash) survivor — the same
    * 8-hex-collision rule extract() stores results under. */
  def kgEvidence(s: SparkSession, d: String): DataFrame =
    kgEvidenceChecks(s, d).transform(withZeroAnchor)

  /** The pre-anchor distributed check plan (the zero-anchored query
    * collects driver-side, so it explains as LocalTableScan; BenchExtra
    * dumps THIS plan — execution identical, the anchor only duplicates
    * the collected rows). */
  private[graft] def kgEvidenceChecks(s: SparkSession, d: String): DataFrame = {
    val r = kg(s, d)
    val normUdf = udf((c: String) => graft.extract.KnowledgeBase.normalize(c))
    val chs = r.chunks.toDF().groupBy("chunk_id")
      .agg(min_by(col("content"), col("content_hash")).as("content"))
      .select(col("chunk_id"), normUdf(col("content")).as("norm"))
    val m = r.mentions
    // ONE distinct (chunk_id, entityName) subtree feeds BOTH endpoint
    // checks via explicit join conditions: the former per-check renames
    // (entityName -> subj / obj) made the two distincts distinct
    // canonical plans, so the full mention-pair dedup shuffle ran twice
    // per dump (guide §2.4 / ReuseExchange — same fix as integrity)
    val mp = m.select(col("chunk_id"), col("entityName")).distinct()
    Seq(
      checkCount("mention_surface_not_in_chunk",
        m.join(chs, "chunk_id").filter(!col("norm").contains(col("surface")))),
      checkCount("triple_subj_not_mentioned",
        r.triples.as("t").join(mp.as("mp"),
          col("t.chunk_id") === col("mp.chunk_id") &&
            col("t.subj") === col("mp.entityName"), "left_anti")),
      checkCount("triple_obj_not_mentioned",
        r.triples.as("t").join(mp.as("mp"),
          col("t.chunk_id") === col("mp.chunk_id") &&
            col("t.obj") === col("mp.entityName"), "left_anti"))
    ).reduce(_.unionByName(_))
  }

  /** Identity-recipe invariants as (check_name, violations) rows — the
    * Spark side of the kg_identity oracle. Both sides recompute md5
    * independently of [[graft.pipeline.KGPipeline.md5Hex]] (Spark's
    * codegen'd `md5` here, DuckDB's `md5` in the oracle), and the
    * `_is_zero` twin rows ([[withZeroAnchor]]) anchor every count to 0,
    * so a green dump proves the ids genuinely follow the recipes
    * (chunk_id = "chunk_" + md5(content)[:8], Base_Neo4j.py:95-107;
    * event_id = chunkId + "_event_" + ord,
    * event_graphrag_neo4j.py:373-396) rather than echoing the engine's
    * own hash. Dangling checks pin extraction to surviving chunks. */
  def kgIdentity(s: SparkSession, d: String): DataFrame =
    kgIdentityChecks(s, d).transform(withZeroAnchor)

  /** Pre-anchor distributed plan — see [[kgEvidenceChecks]]. */
  private[graft] def kgIdentityChecks(s: SparkSession, d: String): DataFrame = {
    val r = kg(s, d)
    val chs = r.chunks.toDF()
    val chunkIds = chs.select("chunk_id").distinct()
    val ev = r.events.select("event_id", "chunk_id")
    Seq(
      checkCount("chunk_id_mismatch", chs.filter(col("chunk_id") =!=
        concat(lit("chunk_"), substring(md5(col("content")), 1, 8)))),
      checkCount("content_hash_mismatch",
        chs.filter(col("content_hash") =!= md5(col("content")))),
      checkCount("event_id_malformed", ev.filter(
        !(col("event_id").startsWith(concat(col("chunk_id"), lit("_event_"))) &&
          col("event_id").rlike("^chunk_[0-9a-f]{8}_event_[0-9]+$")))),
      checkCount("event_chunk_dangling",
        ev.join(chunkIds, Seq("chunk_id"), "left_anti")),
      checkCount("event_rel_chunk_dangling",
        r.eventRels.select("chunk_id")
          .join(chunkIds, Seq("chunk_id"), "left_anti"))
    ).reduce(_.unionByName(_))
  }

  /** The reference's golden extraction fixture
    * (examples/graph_extract/temp_extracted_batch_1.json: per-chunk
    * content + expected entity_relations), shipped as a main resource
    * so the north-rule P/R gate is driver-gradable, not ScalaTest-only
    * (round-4 verdict #6). Parsed once: (chunk index, content, gold
    * triple set). */
  private lazy val prFixture: Vector[(Int, String, Set[(String, String, String)])] = {
    val in = getClass.getResourceAsStream("/graph_extract_fixture.json")
    require(in != null, "graph_extract_fixture.json missing from classpath")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    in.close()
    import scala.jdk.CollectionConverters._
    root.elements().asScala.zipWithIndex.map { case (item, i) =>
      val gold = item.get("metadata").get("entity_relations")
        .elements().asScala.map { r =>
          (r.get("head_id").asText(), r.get("relation_type").asText(),
            r.get("tail_id").asText())
        }.toSet
      (i, item.get("content").asText(), gold)
    }.toVector
  }

  /** Fixture extraction — same construction as ExtractorSpec (plain
    * KnowledgeBase, no alias expansion) so the driver-graded gate and
    * the ScalaTest gate measure the identical extractor. Driver-side:
    * the fixture is a handful of chunks by definition. */
  private lazy val prExtracted: Vector[(Int, Set[(String, String, String)])] = {
    val ex = new graft.extract.TripleExtractor(
      graft.extract.KnowledgeBase.load())
    prFixture.map { case (i, content, _) =>
      (i, ex.extract(s"chunk_$i", s"fixture://$i", content)._2
        .map(t => (t.subj, t.pred, t.obj)).toSet)
    }
  }

  /** (chunk, side, subj, pred, obj) rows — gold vs extracted triple
    * sets per fixture chunk, the scalar dump the kg_pr_fixture oracle
    * recomputes P/R from. */
  def kgPrTriples(s: SparkSession): DataFrame = {
    import s.implicits._
    val gold = prFixture.flatMap { case (i, _, g) =>
      g.map(t => (i, "gold", t._1, t._2, t._3)) }
    val got = prExtracted.flatMap { case (i, g) =>
      g.map(t => (i, "got", t._1, t._2, t._3)) }
    (gold ++ got).toDF("chunk", "side", "subj", "pred", "obj")
  }

  /** Micro-averaged P/R over the fixture as (check_name, violations)
    * rows: tp/fp/fn counts (the oracle recomputes them from the
    * kg_pr_triples dump — both engines must agree) and the two >= 0.95
    * gates, zero-anchored so a quality regression breaks the row, not
    * just shifts a number. */
  def kgPrFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    var tp = 0L; var fp = 0L; var fn = 0L
    val goldByChunk = prFixture.map { case (i, _, g) => i -> g }.toMap
    prExtracted.foreach { case (i, got) =>
      val gold = goldByChunk(i)
      tp += (gold & got).size
      fp += (got -- gold).size
      fn += (gold -- got).size
    }
    val p = tp.toDouble / math.max(tp + fp, 1L)
    val r = tp.toDouble / math.max(tp + fn, 1L)
    val pBad = if (p >= 0.95) 0L else 1L
    val rBad = if (r >= 0.95) 0L else 1L
    Seq(
      ("tp", tp), ("fp", fp), ("fn", fn),
      ("precision_below_gate", pBad), ("recall_below_gate", rBad),
      ("precision_below_gate_is_zero", pBad),
      ("recall_below_gate_is_zero", rBad)
    ).toDF("check_name", "violations")
  }

  /** [[graft.extract.KnowledgeBase.normalize]] ported to DuckDB SQL:
    * strip exactly Java's Character.isWhitespace set, fold full-width
    * parens to ASCII. The class spells out the Java set (U+0085 NEL and
    * the no-break spaces U+00A0/U+2007/U+202F are NOT Java whitespace). */
  private val sqlNormWs =
    "[\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x{1680}\\x{2000}-\\x{2006}" +
      "\\x{2008}-\\x{200A}\\x{2028}\\x{2029}\\x{205F}\\x{3000}]"
  private def sqlNormalize(col: String): String =
    s"replace(replace(regexp_replace($col, '$sqlNormWs', '', 'g'), '（', '('), '）', ')')"

  /** Chunker coverage/ordinal/size invariants as data rows — the Spark
    * side of the chunk_*_check oracles. `stripClass` is the char class
    * the splitter may drop/collapse between chunks: stripping it from
    * the ord-ordered concatenation and from the original must agree. */
  private def chunkCoverageCheck(s: SparkSession, d: String,
      split: String => Seq[String], stripClass: String,
      maxLen: Option[Int]): DataFrame = {
    val ch = chunkQuery(s, d, split)
    val agg = ch.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("ord"), col("chunk")))),
        x => x.getField("chunk")), "").as("joined"),
      count(lit(1)).as("n"), max("ord").as("max_ord"),
      countDistinct("ord").as("n_ord"),
      max(length(col("chunk"))).as("max_len"))
    val d0 = docs(s, d).select("doc_id", "text")
    val base = Seq(
      checkCount("coverage_mismatch", agg.join(d0, "doc_id").filter(
        regexp_replace(col("joined"), stripClass, "") =!=
          regexp_replace(col("text"), stripClass, ""))),
      checkCount("doc_without_chunks", d0.join(agg, Seq("doc_id"), "left_anti")),
      checkCount("ord_not_dense", agg.filter(
        col("max_ord") =!= col("n") - 1 || col("n_ord") =!= col("n"))))
    val all = maxLen match {
      case Some(m) => base :+ checkCount("chunk_oversize", agg.filter(col("max_len") > m))
      case None => base
    }
    all.reduce(_.unionByName(_)).transform(withZeroAnchor)
  }

  /** Chunk-check oracle SQL over a dumped chunk table: same four counts
    * recomputed by DuckDB from the dump x documents. */
  private def chunkCheckOracleSql(dump: String, stripClass: String,
      maxLen: Option[Int]): String = {
    val sizeRow = maxLen.map(m =>
      s"\nUNION ALL SELECT 'chunk_oversize', count(*) FROM agg WHERE max_len > $m")
      .getOrElse("")
    s"""WITH ch AS (SELECT doc_id, ord, chunk
       |           FROM read_parquet('__OUT__/$dump/*.parquet')),
       |agg AS (SELECT doc_id, string_agg(chunk, '' ORDER BY ord) AS joined,
       |               count(*) AS n, max(ord) AS max_ord,
       |               count(DISTINCT ord) AS n_ord,
       |               max(length(chunk)) AS max_len
       |        FROM ch GROUP BY 1),
       |d AS (SELECT doc_id, text FROM documents)
       |SELECT 'coverage_mismatch' AS check_name, count(*) AS violations
       |  FROM agg JOIN d USING (doc_id)
       |  WHERE regexp_replace(joined, '$stripClass', '', 'g')
       |     <> regexp_replace(text, '$stripClass', '', 'g')
       |UNION ALL SELECT 'doc_without_chunks', count(*) FROM d
       |  WHERE doc_id NOT IN (SELECT doc_id FROM agg)
       |UNION ALL SELECT 'ord_not_dense', count(*) FROM agg
       |  WHERE max_ord <> n - 1 OR n_ord <> n$sizeRow""".stripMargin +
      zeroAnchorSql(Seq("coverage_mismatch", "doc_without_chunks",
        "ord_not_dense") ++ maxLen.map(_ => "chunk_oversize"))
  }

  /** Columnar recompute of the rerank stub scorer: embed the doc text
    * with a UDF, cosine against the query vector via the codegen
    * expression — arithmetic bit-identical to
    * [[graft.retrieval.HashingCosineScorer]] (same double accumulation
    * order; products commute exactly in IEEE), through an independent
    * execution path (column pipeline vs mapPartitions batches). */
  def rerankExpected(s: SparkSession, d: String): DataFrame = {
    val qv = graft.retrieval.DenseRetriever.queryVec("spark join vector")
    val embUdf = udf((t: String) =>
      graft.embed.HashingEmbedder.embed(t.toLowerCase).toSeq)
    // UNROUNDED: the oracle must order by the same raw doubles the
    // batch scorer ordered by (rounding first could flip a top-10
    // boundary tie); the 6dp round happens in the oracle's final select
    Tables.documents(s, d).select(col("doc_id"),
      graft.embed.CosineSimilarity(embUdf(col("text")),
        typedLit(qv)).as("expected_score"))
  }

  /** mmr_rerank oracle: the k-step greedy argmax unrolled as chained
    * CTEs over the dumped candidate/pairwise similarities — step i
    * picks the remaining candidate maximizing
    * 0.5*sim_q - 0.5*max(sim to selected), ties to the lower vec_id
    * (exactly the driver loop's (score, -id) maxBy). Double arithmetic
    * is identical on both sides: the dumps carry the very doubles the
    * loop consumed. */
  private def mmrOracleSql(k: Int): String = {
    // MATERIALIZED throughout: each sel_i references every prior step,
    // so DuckDB's default CTE INLINING would expand the tree ~2^k-fold
    // (measured: fd exhaustion surfacing as a bogus "No files found"
    // glob error at k = 10); materialization keeps the plan linear
    val sb = new StringBuilder
    sb ++= s"""WITH c AS MATERIALIZED (SELECT vec_id, sim_q
              |          FROM read_parquet('__OUT__/mmr_candidates/*.parquet')),
              |p AS MATERIALIZED (SELECT vec_a, vec_b, sim
              |      FROM read_parquet('__OUT__/mmr_pair_sims/*.parquet')),
              |s1 AS MATERIALIZED (SELECT vec_id FROM c
              |       ORDER BY 0.5 * sim_q DESC, vec_id LIMIT 1)""".stripMargin
    for (i <- 2 to k) {
      val sel = (1 until i).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      sb ++= s""",
                |sel${i - 1} AS MATERIALIZED ($sel),
                |s$i AS MATERIALIZED (SELECT c.vec_id FROM c
                |  JOIN p ON p.vec_a = c.vec_id
                |        AND p.vec_b IN (SELECT vec_id FROM sel${i - 1})
                |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
                |  GROUP BY c.vec_id, c.sim_q
                |  ORDER BY 0.5 * c.sim_q - 0.5 * max(p.sim) DESC, c.vec_id
                |  LIMIT 1)""".stripMargin
    }
    sb ++= "\n" + (1 to k).map(i =>
      s"SELECT CAST($i AS INT) AS rank, vec_id FROM s$i")
      .mkString("\nUNION ALL ")
    sb.toString
  }

  /** Tumbling 1-hour window aggregate over the events stream table —
    * Spark's `window()` (the batch form of the Structured Streaming
    * windowed agg); oracle is date_trunc. */
  def timeWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  def textStats(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextOps._
    docs(s, d).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      punctCount(col("text")).as("n_punct"),
      digitCount(col("text")).as("n_digits"),
      nonAsciiCount(col("text")).as("n_nonascii"),
      meanTokenLen(col("text")).as("mean_tok_len"))
  }

  def textBpeTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.text.TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  def textLangId(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.text.TextOps.langId(col("text")).as("pred_lang"))

  def textFingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.text.TextOps.fingerprint(col("text")).as("fp"))

  def textQuality(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.text.TextOps.qualityScore(col("text")).as("quality"))

  /** dense_scores oracle: cosine(query vector, embeddings.embedding) in
    * explicit double arithmetic — each float is printed with 17
    * significant digits so DuckDB parses exactly the double our codegen
    * CosineSimilarity accumulates with; sums differ only in ulps across
    * engines, absorbed by round(6) (same precision contract as the
    * bm25 score rounding). */
  private def denseScoresOracleSql: String = {
    val qv = graft.retrieval.DenseRetriever.queryVec("spark join vector")
    val values = qv.zipWithIndex.map { case (f, i) =>
      // Locale.ROOT: a comma-decimal default locale would emit broken SQL
      val lit = String.format(java.util.Locale.ROOT, "%.17e", f.toDouble)
      s"(${i + 1}, CAST($lit AS DOUBLE))"
    }.mkString(", ")
    s"""WITH q(i, qv) AS (VALUES $values),
       |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |              unnest(embedding) AS ev FROM embeddings),
       |s AS (SELECT vec_id AS doc_id,
       |        sum(CAST(ev AS DOUBLE) * qv) /
       |        sqrt(sum(CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)) *
       |             (SELECT sum(qv * qv) FROM q)) AS score
       |      FROM ex JOIN q USING (i) GROUP BY vec_id)
       |SELECT doc_id, round(score, 6) AS score
       |FROM s ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
  }

  /** Ranking-invariant oracle for an approximate ANN dump: re-rank the
    * dumped (query_id, neighbor_id) pairs by exact cosine from the
    * embeddings table (ties to the lower id — the engines' shared
    * contract) and require the dumped rank column to match. The
    * candidate set itself is approximate (covered by ann_recall); what
    * this pins is that returned neighbors are genuinely ordered by
    * their true similarity. The FLOAT[] embeddings are widened to
    * DOUBLE before the dot products (same as the kg_event_similar
    * oracle): the engine ranked by double-precision cosine, and
    * float-precision re-ranking could flip near-tied neighbors
    * (near-duplicate vectors exist by construction — vec_neardup). */
  private def annRankInvariantOracleSql(dump: String): String =
    s"""WITH d AS (SELECT query_id, neighbor_id
       |           FROM read_parquet('__OUT__/$dump/*.parquet')),
       |v AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |      FROM embeddings),
       |s AS (SELECT d.query_id, d.neighbor_id,
       |        list_dot_product(e.emb, q.emb) /
       |          sqrt(list_dot_product(e.emb, e.emb) *
       |               list_dot_product(q.emb, q.emb)) AS cos
       |      FROM d JOIN v e ON e.vec_id = d.neighbor_id
       |             JOIN v q ON q.vec_id = d.query_id)
       |SELECT query_id,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       |       neighbor_id
       |FROM s""".stripMargin

  /** Per-class graph counts rebuilt from the dumps (Chunk = distinct
    * chunk ids, MENTIONS = distinct (chunk, canonical) through the name
    * map, ...). Shared by kg_stats (in-memory frames) and
    * kg_stats_written (read back from the partitioned write) — both
    * must agree with the same recomputation. */
  private def kgStatsOracleSql: String =
    """WITH nm AS (SELECT entity_name, canonical_id
      |           FROM read_parquet('__OUT__/kg_name_map/*.parquet')),
      |chs AS (SELECT DISTINCT chunk_id FROM read_parquet('__OUT__/kg_chunks/*.parquet')),
      |evs AS (SELECT event_id FROM read_parquet('__OUT__/kg_events/*.parquet')),
      |ents AS (SELECT canonical_id FROM read_parquet('__OUT__/kg_entities/*.parquet')),
      |edges AS (SELECT subj_id FROM read_parquet('__OUT__/kg_edges/*.parquet')),
      |parts AS (SELECT event_id FROM read_parquet('__OUT__/kg_participates/*.parquet')),
      |sim AS (SELECT rank FROM read_parquet('__OUT__/kg_event_similar/*.parquet')),
      |ee AS (SELECT head_id FROM read_parquet('__OUT__/kg_event_edges/*.parquet')),
      |men AS (SELECT DISTINCT m.chunk_id, nm.canonical_id
      |        FROM read_parquet('__OUT__/kg_mentions/*.parquet') m
      |        JOIN nm ON m.entityName = nm.entity_name)
      |SELECT 'node' AS kind, 'Chunk' AS class, count(*) AS count FROM chs
      |UNION ALL SELECT 'node', 'Event', count(*) FROM evs
      |UNION ALL SELECT 'node', 'Entity', count(*) FROM ents
      |UNION ALL SELECT 'edge', 'ENTITY_RELATION', count(*) FROM edges
      |UNION ALL SELECT 'edge', 'CONTAINS', count(*) FROM evs
      |UNION ALL SELECT 'edge', 'MENTIONS', count(*) FROM men
      |UNION ALL SELECT 'edge', 'PARTICIPATES_IN', count(*) FROM parts
      |UNION ALL SELECT 'edge', 'SIMILAR_TO', count(*) FROM sim
      |UNION ALL SELECT 'edge', 'EVENT_RELATION', count(*) FROM ee""".stripMargin

  /** DuckDB oracle SQL — semantically identical to the Spark plans above.
    * Shared SQL fragments are inlined per query (DuckDB reads the same
    * parquet files registered as tables named like the files).
    */
  def oracleSql: Map[String, String] = {
    // DuckDB fragment: whitespace token array of trimmed, lowercased text
    val toksLower = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    val nTokens =
      "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    val nPunct = "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))"
    val nDigits = "length(regexp_replace(text, '[^0-9]', '', 'g'))"
    val nNonAscii = "length(regexp_replace(text, '[\\x20-\\x7e]', '', 'g'))"
    val meanTokLen =
      s"round(CASE WHEN $nTokens = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / $nTokens END, 6)"
    def votes(words: Seq[String]): String =
      s"len(list_filter($toksLower, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val en = votes(graft.text.TextOps.langStopwords("en"))
    val de = votes(graft.text.TextOps.langStopwords("de"))
    val fr = votes(graft.text.TextOps.langStopwords("fr"))
    val es = votes(graft.text.TextOps.langStopwords("es"))
    val cjk = "length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))"
    val fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

    Map(
      "q_agg_upsert" ->
        """SELECT lang, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
          |       min(doc_id) AS first_doc, CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY lang""".stripMargin,
      "q_agg_pricing" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |       count(*) AS count_order, round(avg(l_discount), 6) AS avg_disc
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q_topk" ->
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
      "q_window_topk" ->
        """SELECT * FROM (
          |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
          |         CAST(ROW_NUMBER() OVER (PARTITION BY l_suppkey
          |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
          |  FROM lineitem) WHERE rn <= 3""".stripMargin,
      "q_anti_join" ->
        """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin,
      "q_semi_join" ->
        """SELECT p_partkey, p_name, p_size FROM part p
          |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""".stripMargin,
      "q_join_agg" ->
        """SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin,
      "q_rollup" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |       count(*) AS count_order,
          |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
      "q_cube" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
          |       round(sum(o_totalprice), 2) AS revenue,
          |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
      "q_asof_join" ->
        """WITH clicks AS (
          |  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
          |p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id,
          |         arg_max(value, event_id) AS pv
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT c.click_id, c.user_id, p.purchase_id,
          |       round(p.pv, 6) AS purchase_value
          |FROM clicks c ASOF LEFT JOIN p
          |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
      "q_range_join" ->
        """WITH clicks AS (
          |  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
          |p AS (
          |  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase')
          |SELECT c.click_id, c.user_id, p.purchase_id
          |FROM clicks c JOIN p ON c.user_id = p.user_id
          |  AND c.ts >= p.ts AND epoch(c.ts) < epoch(p.ts) + 3600""".stripMargin,
      "q_rrf_fusion" ->
        """WITH by_chars AS (
          |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS INT) AS rank
          |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
          |by_hash AS (
          |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) AS INT) AS rank
          |  FROM documents ORDER BY md5(text), doc_id LIMIT 50),
          |u AS (SELECT * FROM by_chars UNION ALL SELECT * FROM by_hash)
          |SELECT doc_id, round(sum(CAST(1.0 AS DOUBLE) / (60 + rank)), 9) AS rrf_score,
          |       count(*) AS n_lists
          |FROM u GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,
      "dedup_exact" ->
        """SELECT md5(text) AS content_hash, count(*) AS group_size,
          |       min(doc_id) AS keep_doc_id
          |FROM documents GROUP BY 1""".stripMargin,
      "dedup_exact_drop" ->
        s"""WITH f AS (SELECT doc_id, $fp AS fp FROM documents),
           |k AS (SELECT fp, min(doc_id) AS keep_doc_id FROM f GROUP BY fp)
           |SELECT f.doc_id, k.keep_doc_id FROM f JOIN k USING (fp)
           |WHERE f.doc_id <> k.keep_doc_id""".stripMargin,
      "dedup_jaccard" ->
        s"""WITH toks AS (SELECT doc_id, $toksLower AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           |       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
           |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
           |rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)
           |         WHERE df.df BETWEEN 2 AND 1000),
           |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
           |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |          FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
           |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
           |          FROM cands c
           |          JOIN sh a ON a.doc_id = c.doc_a
           |          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           |          GROUP BY 1, 2)
           |SELECT doc_a, doc_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
           |       round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6) AS jaccard
           |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6) >= 0.25""".stripMargin,
      "text_stats" ->
        s"""SELECT doc_id, $nTokens AS n_tokens, $nPunct AS n_punct,
           |       $nDigits AS n_digits, $nNonAscii AS n_nonascii,
           |       $meanTokLen AS mean_tok_len
           |FROM documents""".stripMargin,
      "text_langid" ->
        s"""SELECT doc_id, CASE
           |  WHEN $cjk * 10 > greatest(length(text), 1) THEN 'zh'
           |  WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
           |  WHEN $de >= $fr AND $de >= $es THEN 'de'
           |  WHEN $fr >= $es THEN 'fr'
           |  ELSE 'es' END AS pred_lang
           |FROM documents""".stripMargin,
      // whitespace class spelled explicitly (same as the Scala
      // BpeTokenPattern): RE2's \s is [\t\n\f\r ] without U+000B while
      // Java's includes it — the explicit class makes both engines
      // treat \x0B as whitespace
      "text_bpe_tokens" ->
        """SELECT doc_id, len(regexp_extract_all(text,
          |  '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+')) AS n_bpe_tokens
          |FROM documents""".stripMargin,
      "dedup_minhash_lsh" ->
        s"""WITH toks AS (SELECT doc_id, $toksLower AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           |       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
           |sizes AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2)
           |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6) AS jaccard
           |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE round(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6) >= 0.5""".stripMargin,
      "ann_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          |        list_cosine_similarity(e.embedding, q.qv) AS cos
          |      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
          |r AS (SELECT query_id, neighbor_id,
          |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          |      FROM s)
          |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 10""".stripMargin,
      // approximate families: the candidate SET is approximate by
      // design (recall is measured by ann_recall), but the RANKING over
      // whatever was returned must be the exact-cosine order with
      // deterministic ties — recomputed here over the dump's own
      // (query, neighbor) pairs. Relative order within the returned
      // top-k is preserved under restriction, so dense re-ranking of
      // the dump must reproduce the dumped rank column exactly.
      "ann_topk_lsh" -> annRankInvariantOracleSql("ann_topk_lsh"),
      "ann_topk_ivf" -> annRankInvariantOracleSql("ann_topk_ivf"),
      "ann_topk_lsh_durable" ->
        annRankInvariantOracleSql("ann_topk_lsh_durable"),
      "ann_topk_ivf_durable" ->
        annRankInvariantOracleSql("ann_topk_ivf_durable"),
      "vec_neardup" ->
        """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin,
      "bm25_topk" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |  FROM documents WHERE length(trim(text)) > 0),
          |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
          |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |                 (SELECT count(*) FROM toks) /
          |                   (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS avgdl),
          |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
          |idf0 AS (SELECT tok, ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf_raw FROM df),
          |aidf AS (SELECT avg(idf_raw) AS a FROM idf0),
          |idf AS (SELECT tok, CASE WHEN idf_raw < 0 THEN 0.25 * (SELECT a FROM aidf)
          |                         ELSE idf_raw END AS idf FROM idf0),
          |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
          |       WHERE tok IN ('spark', 'join', 'vector') GROUP BY 1, 2),
          |sc AS (SELECT tf.doc_id,
          |         round(sum(idf.idf * tf.tf * 2.5 /
          |           (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))), 6) AS score
          |       FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) GROUP BY 1)
          |SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank, score
          |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
      // same Okapi math as bm25_topk, over the zh corpus dump with the
      // cross-engine segmentation pattern (ZhTokenizer: longest-first
      // alternation == greedy longest match in Java regex AND RE2)
      "bm25_topk_zh" -> {
        val pat = graft.text.ZhTokenizer.pattern
        s"""WITH docs AS (SELECT doc_id, text FROM read_parquet('__OUT__/zh_corpus/*.parquet')),
           |toks0 AS (SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS tok FROM docs),
           |toks AS (SELECT * FROM toks0 WHERE NOT regexp_matches(tok, '^[ \\t\\n\\x0B\\f\\r]$$')),
           |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
           |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM docs) AS n,
           |                 (SELECT count(*) FROM toks) /
           |                   (SELECT CAST(count(*) AS DOUBLE) FROM docs) AS avgdl),
           |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
           |idf0 AS (SELECT tok, ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf_raw FROM df),
           |aidf AS (SELECT avg(idf_raw) AS a FROM idf0),
           |idf AS (SELECT tok, CASE WHEN idf_raw < 0 THEN 0.25 * (SELECT a FROM aidf)
           |                         ELSE idf_raw END AS idf FROM idf0),
           |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           |       WHERE tok IN ('蒸发器设计规范', '质量', '整改') GROUP BY 1, 2),
           |sc AS (SELECT tf.doc_id,
           |         round(sum(idf.idf * tf.tf * 2.5 /
           |           (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))), 6) AS score
           |       FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) GROUP BY 1)
           |SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank, score
           |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
      },
      "mm_decode_meta" ->
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |  CAST(32 + octet_length(encode(text)) % 97 AS INT) AS width,
          |  CAST(32 + (octet_length(encode(text)) * 7) % 89 AS INT) AS height,
          |  md5(substring(text, 1, 100)) || ',' || md5(substring(text, 101, 100))
          |    || ',' || md5(substring(text, 201, 100)) || ',' || md5(substring(text, 301, 100))
          |    AS frames_joined
          |FROM documents""".stripMargin,
      "dense_scores" -> denseScoresOracleSql,
      "retrieval_threshold" ->
        """SELECT b.vec_id FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          |WHERE a.vec_id = 0 AND list_cosine_similarity(a.embedding, b.embedding) >= 0.3""".stripMargin,
      "retrieval_threshold_l2" ->
        """SELECT b.vec_id FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          |WHERE a.vec_id = 0
          |  AND 1 - list_distance(a.embedding, b.embedding) / sqrt(2) >= 0.164""".stripMargin,
      "retrieval_threshold_ip" ->
        """SELECT b.vec_id FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          |WHERE a.vec_id = 0
          |  AND (CASE WHEN list_dot_product(a.embedding, b.embedding) > 0
          |       THEN 1 - list_dot_product(a.embedding, b.embedding)
          |       ELSE -list_dot_product(a.embedding, b.embedding) END) >= 0.8""".stripMargin,
      // __OUT__ is replaced by Verify with the absolute dump directory:
      // the oracle recomputes the exact side + the recall arithmetic
      // independently over the dumped approximate results
      // graph referential integrity recomputed from the dumped tables:
      // anti-join counts must be zero AND must agree with Spark's
      "kg_integrity" ->
        ("""WITH ents AS (SELECT canonical_id FROM read_parquet('__OUT__/kg_entities/*.parquet')),
          |evs AS (SELECT event_id FROM read_parquet('__OUT__/kg_events/*.parquet')),
          |chs AS (SELECT DISTINCT chunk_id FROM read_parquet('__OUT__/kg_chunks/*.parquet')),
          |edges AS (SELECT subj_id, obj_id FROM read_parquet('__OUT__/kg_edges/*.parquet')),
          |parts AS (SELECT canonical_id, event_id FROM read_parquet('__OUT__/kg_participates/*.parquet')),
          |ee AS (SELECT head_id, tail_id FROM read_parquet('__OUT__/kg_event_edges/*.parquet')),
          |evsrc AS (SELECT chunk_id FROM read_parquet('__OUT__/kg_events/*.parquet')),
          |evfull AS (SELECT event_id, chunk_id FROM read_parquet('__OUT__/kg_events/*.parquet')),
          |er AS (SELECT head_event_id, tail_event_id
          |       FROM read_parquet('__OUT__/kg_event_rels/*.parquet')),
          |tr AS (SELECT chunk_id FROM read_parquet('__OUT__/kg_triples/*.parquet'))
          |SELECT 'edges_dangling_subj' AS check_name, count(*) AS violations
          |  FROM edges WHERE subj_id NOT IN (SELECT canonical_id FROM ents)
          |UNION ALL SELECT 'edges_dangling_obj', count(*)
          |  FROM edges WHERE obj_id NOT IN (SELECT canonical_id FROM ents)
          |UNION ALL SELECT 'participates_dangling_entity', count(*)
          |  FROM parts WHERE canonical_id NOT IN (SELECT canonical_id FROM ents)
          |UNION ALL SELECT 'participates_dangling_event', count(*)
          |  FROM parts WHERE event_id NOT IN (SELECT event_id FROM evs)
          |UNION ALL SELECT 'event_edges_dangling_head', count(*)
          |  FROM ee WHERE head_id NOT IN (SELECT event_id FROM evs)
          |UNION ALL SELECT 'event_edges_dangling_tail', count(*)
          |  FROM ee WHERE tail_id NOT IN (SELECT event_id FROM evs)
          |UNION ALL SELECT 'events_dangling_chunk', count(*)
          |  FROM evsrc WHERE chunk_id NOT IN (SELECT chunk_id FROM chs)
          |UNION ALL SELECT 'triples_dangling_chunk', count(*)
          |  FROM tr WHERE chunk_id NOT IN (SELECT chunk_id FROM chs)
          |UNION ALL SELECT 'event_rels_dangling_head', count(*)
          |  FROM er WHERE head_event_id NOT IN (SELECT event_id FROM evs)
          |UNION ALL SELECT 'event_rels_dangling_tail', count(*)
          |  FROM er WHERE tail_event_id NOT IN (SELECT event_id FROM evs)
          |UNION ALL SELECT 'event_id_malformed', count(*)
          |  FROM evfull WHERE NOT starts_with(event_id, chunk_id || '_event_')""".stripMargin +
          zeroAnchorSql(Seq("edges_dangling_subj", "edges_dangling_obj",
            "participates_dangling_entity", "participates_dangling_event",
            "event_edges_dangling_head", "event_edges_dangling_tail",
            "events_dangling_chunk", "triples_dangling_chunk",
            "event_rels_dangling_head", "event_rels_dangling_tail",
            "event_id_malformed"))),
      // G5 endpoint rewrite + provenance counts recomputed from the
      // dumped triples joined through the dumped name map: inner joins,
      // self-loop filter, and the salted two-phase n_sources sum must
      // all reproduce in one flat SQL aggregate
      "kg_edges" ->
        """WITH nm AS (SELECT entity_name, canonical_id
          |           FROM read_parquet('__OUT__/kg_name_map/*.parquet')),
          |t AS (SELECT chunk_id, subj, pred, obj
          |      FROM read_parquet('__OUT__/kg_triples/*.parquet'))
          |SELECT s.canonical_id AS subj_id, t.pred, o.canonical_id AS obj_id,
          |       CAST(count(*) AS BIGINT) AS n_sources
          |FROM t JOIN nm s ON t.subj = s.entity_name
          |       JOIN nm o ON t.obj = o.entity_name
          |WHERE s.canonical_id <> o.canonical_id
          |GROUP BY 1, 2, 3""".stripMargin,
      // G12+G10+G11 arithmetic recomputed from dumps: per-name_key
      // mention counts -> component sums, merged-name counts, and the
      // (n_mentions, name_key)-max representative whose lowercased
      // display name must equal the winning key
      "kg_entity_counts" ->
        """WITH nm AS (SELECT entity_name, name_key, canonical_id
          |           FROM read_parquet('__OUT__/kg_name_map/*.parquet')),
          |m AS (SELECT entityName FROM read_parquet('__OUT__/kg_mentions/*.parquet')),
          |mk AS (SELECT nm.name_key, nm.canonical_id, count(*) AS n
          |       FROM m JOIN nm ON m.entityName = nm.entity_name
          |       GROUP BY 1, 2),
          |win AS (SELECT canonical_id, name_key,
          |          ROW_NUMBER() OVER (PARTITION BY canonical_id
          |            ORDER BY n DESC, name_key DESC) AS rn
          |        FROM mk),
          |merged AS (SELECT canonical_id, count(DISTINCT name_key) AS n_merged
          |           FROM nm GROUP BY 1)
          |SELECT mk.canonical_id, w.name_key AS winner_key,
          |       CAST(sum(mk.n) AS BIGINT) AS n_mentions,
          |       CAST(any_value(merged.n_merged) AS BIGINT) AS n_merged_names
          |FROM mk JOIN (SELECT canonical_id, name_key FROM win WHERE rn = 1) w
          |          USING (canonical_id)
          |        JOIN merged USING (canonical_id)
          |GROUP BY 1, 2""".stripMargin,
      // the ENTITY TABLE ITSELF recomputed end-to-end from the mention
      // dump: per-key mention counts, the (chunkId, ord)-min
      // first-writer display name/type (reference ON CREATE SET,
      // event_graphrag_neo4j.py:336-360), component membership through
      // the dumped name map, and the (n_mentions, name_key)-max winner
      // per component (Base_Neo4j.py:922-950) — closes the last
      // rows-only gap on the canonicalization OUTPUT side
      "kg_entities" ->
        """WITH m AS (SELECT chunk_id, ord, entityType, norm_name,
          |            lower(norm_name) AS name_key
          |          FROM read_parquet('__OUT__/kg_mentions/*.parquet')),
          |per_key AS (SELECT name_key, count(*) AS n FROM m GROUP BY 1),
          |firstw AS (SELECT name_key, norm_name AS display_name,
          |             entityType AS entity_type
          |           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY name_key
          |                   ORDER BY chunk_id, ord, norm_name, entityType) AS rn
          |                 FROM m) r WHERE rn = 1),
          |comp AS (SELECT DISTINCT name_key, canonical_id
          |         FROM read_parquet('__OUT__/kg_name_map/*.parquet')),
          |keyrow AS (SELECT comp.canonical_id, per_key.name_key, per_key.n,
          |             firstw.display_name, firstw.entity_type
          |           FROM per_key JOIN firstw USING (name_key)
          |                        JOIN comp USING (name_key)),
          |win AS (SELECT canonical_id, display_name, entity_type,
          |          ROW_NUMBER() OVER (PARTITION BY canonical_id
          |            ORDER BY n DESC, name_key DESC) AS rn
          |        FROM keyrow)
          |SELECT k.canonical_id, w.display_name AS entity_name, w.entity_type,
          |       CAST(sum(k.n) AS BIGINT) AS n_mentions,
          |       CAST(count(*) AS BIGINT) AS n_merged_names
          |FROM keyrow k
          |JOIN (SELECT canonical_id, display_name, entity_type
          |      FROM win WHERE rn = 1) w USING (canonical_id)
          |GROUP BY 1, 2, 3""".stripMargin,
      // the name map itself recomputed from the mention dump: the alias
      // set per normalized key = DISTINCT raw surfaces (the engine's
      // rawKeys recovery from aggregated alias sets), keyed by
      // lower(norm_name); the key->canonical mapping joins through the
      // dump's own DISTINCT pairs — that mapping's invariants (function
      // property, CC min-representative, no dangling ids) are pinned
      // independently by kg_alias_closure
      "kg_name_map" ->
        """WITH m AS (SELECT DISTINCT entityName AS entity_name,
          |            lower(norm_name) AS name_key
          |          FROM read_parquet('__OUT__/kg_mentions/*.parquet')),
          |comp AS (SELECT DISTINCT name_key, canonical_id
          |         FROM read_parquet('__OUT__/kg_name_map/*.parquet'))
          |SELECT m.entity_name, m.name_key, comp.canonical_id
          |FROM m JOIN comp USING (name_key)""".stripMargin,
      // G13 recomputed from dumps: re-rank the emitted SIMILAR_TO pairs
      // by exact cosine over the dumped representative vectors (float
      // parse -> double widen -> the engine's exact dot/sqrt(nx*ny)
      // formula) and re-apply the 0.85 cutoff. The LSH candidate SET is
      // approximate by design; the threshold and ranking are not.
      "kg_event_similar" ->
        """WITH v AS (SELECT event_id,
          |            list_transform(CAST(vec_json AS FLOAT[]),
          |                           x -> CAST(x AS DOUBLE)) AS emb
          |          FROM read_parquet('__OUT__/kg_event_vecs/*.parquet')),
          |d AS (SELECT src_event, dst_event
          |      FROM read_parquet('__OUT__/kg_event_similar/*.parquet')),
          |s AS (SELECT d.src_event, d.dst_event,
          |        list_dot_product(a.emb, b.emb) /
          |          sqrt(list_dot_product(a.emb, a.emb) *
          |               list_dot_product(b.emb, b.emb)) AS cos
          |      FROM d JOIN v a ON a.event_id = d.src_event
          |             JOIN v b ON b.event_id = d.dst_event)
          |SELECT src_event, dst_event,
          |       CAST(ROW_NUMBER() OVER (PARTITION BY src_event
          |         ORDER BY cos DESC, dst_event) AS INT) AS rank
          |FROM s WHERE cos >= 0.85""".stripMargin,
      // alias-closure invariants recomputed from the dumped map /
      // entities / mentions (counts must agree with Spark AND be zero)
      "kg_alias_closure" ->
        ("""WITH nm AS (SELECT entity_name, name_key, canonical_id
          |           FROM read_parquet('__OUT__/kg_name_map/*.parquet')),
          |ents AS (SELECT canonical_id FROM read_parquet('__OUT__/kg_entities/*.parquet')),
          |m AS (SELECT DISTINCT entityName AS entity_name
          |      FROM read_parquet('__OUT__/kg_mentions/*.parquet'))
          |SELECT 'aliases_multi_mapped' AS check_name, count(*) AS violations FROM (
          |  SELECT entity_name FROM nm GROUP BY 1 HAVING count(DISTINCT canonical_id) > 1)
          |UNION ALL SELECT 'canonical_not_min_member', count(*) FROM (
          |  SELECT canonical_id FROM nm GROUP BY 1 HAVING min(name_key) <> canonical_id)
          |UNION ALL SELECT 'namemap_dangling_canonical', count(*) FROM (
          |  SELECT DISTINCT canonical_id FROM nm
          |  WHERE canonical_id NOT IN (SELECT canonical_id FROM ents))
          |UNION ALL SELECT 'entities_without_alias', count(*) FROM (
          |  SELECT canonical_id FROM ents
          |  WHERE canonical_id NOT IN (SELECT canonical_id FROM nm))
          |UNION ALL SELECT 'mention_surface_unmapped', count(*) FROM (
          |  SELECT entity_name FROM m
          |  WHERE entity_name NOT IN (SELECT entity_name FROM nm))""".stripMargin +
          zeroAnchorSql(Seq("aliases_multi_mapped",
            "canonical_not_min_member", "namemap_dangling_canonical",
            "entities_without_alias", "mention_surface_unmapped"))),
      // G6 recomputed from dumps: content-representative resolution
      // (min event_id per content), endpoint joins, provenance count
      "kg_event_edges" ->
        """WITH evs AS (SELECT event_id, content
          |            FROM read_parquet('__OUT__/kg_events/*.parquet')),
          |rep0 AS (SELECT content, min(event_id) AS rep_id FROM evs GROUP BY 1),
          |rep AS (SELECT e.event_id, r.rep_id FROM evs e JOIN rep0 r USING (content)),
          |er AS (SELECT head_event_id, tail_event_id, relation_type
          |       FROM read_parquet('__OUT__/kg_event_rels/*.parquet'))
          |SELECT h.rep_id AS head_id, t.rep_id AS tail_id, er.relation_type,
          |       CAST(count(*) AS BIGINT) AS n_sources
          |FROM er JOIN rep h ON er.head_event_id = h.event_id
          |        JOIN rep t ON er.tail_event_id = t.event_id
          |GROUP BY 1, 2, 3""".stripMargin,
      // G7 recomputed from dumps: the exploded participants dump joined
      // through the name map, distinct (inner join = Cypher MATCH drop)
      "kg_participates" ->
        """WITH ev AS (SELECT event_id, entity_name
          |           FROM read_parquet('__OUT__/kg_event_participants/*.parquet')),
          |nm AS (SELECT entity_name, canonical_id
          |       FROM read_parquet('__OUT__/kg_name_map/*.parquet'))
          |SELECT DISTINCT nm.canonical_id, ev.event_id
          |FROM ev JOIN nm USING (entity_name)""".stripMargin,
      // extraction evidence invariants recomputed from dumps: chunk
      // survivor by min content_hash (the engine's 8-hex-collision
      // rule), normalization ported to SQL, substring + endpoint checks
      "kg_evidence" ->
        (s"""WITH chs AS (SELECT chunk_id,
           |               arg_min(content, content_hash) AS content
           |             FROM read_parquet('__OUT__/kg_chunks/*.parquet')
           |             GROUP BY 1),
           |n AS (SELECT chunk_id, ${sqlNormalize("content")} AS norm FROM chs),
           |m AS (SELECT chunk_id, surface, entityName
           |      FROM read_parquet('__OUT__/kg_mentions/*.parquet')),
           |t AS (SELECT chunk_id, subj, obj
           |      FROM read_parquet('__OUT__/kg_triples/*.parquet'))
           |SELECT 'mention_surface_not_in_chunk' AS check_name,
           |       count(*) AS violations
           |  FROM m JOIN n USING (chunk_id) WHERE NOT contains(n.norm, m.surface)
           |UNION ALL SELECT 'triple_subj_not_mentioned', count(*) FROM t
           |  WHERE NOT EXISTS (SELECT 1 FROM m
           |    WHERE m.chunk_id = t.chunk_id AND m.entityName = t.subj)
           |UNION ALL SELECT 'triple_obj_not_mentioned', count(*) FROM t
           |  WHERE NOT EXISTS (SELECT 1 FROM m
           |    WHERE m.chunk_id = t.chunk_id AND m.entityName = t.obj)""".stripMargin +
          zeroAnchorSql(Seq("mention_surface_not_in_chunk",
            "triple_subj_not_mentioned", "triple_obj_not_mentioned"))),
      // id recipes + referential integrity recomputed from the dumps
      // alone (DuckDB's own md5 — independent of the engine's digest)
      "kg_identity" ->
        ("""WITH ch AS (SELECT chunk_id, content, content_hash
          |            FROM read_parquet('__OUT__/kg_chunks/*.parquet')),
          |chd AS (SELECT DISTINCT chunk_id FROM ch),
          |ev AS (SELECT event_id, chunk_id
          |       FROM read_parquet('__OUT__/kg_events/*.parquet')),
          |er AS (SELECT chunk_id
          |       FROM read_parquet('__OUT__/kg_event_rels/*.parquet'))
          |SELECT 'chunk_id_mismatch' AS check_name, count(*) AS violations
          |  FROM ch WHERE chunk_id <> 'chunk_' || substr(md5(content), 1, 8)
          |UNION ALL SELECT 'content_hash_mismatch', count(*) FROM ch
          |  WHERE content_hash <> md5(content)
          |UNION ALL SELECT 'event_id_malformed', count(*) FROM ev
          |  WHERE NOT (starts_with(event_id, chunk_id || '_event_')
          |         AND regexp_matches(event_id, '^chunk_[0-9a-f]{8}_event_[0-9]+$'))
          |UNION ALL SELECT 'event_chunk_dangling', count(*) FROM ev
          |  WHERE chunk_id NOT IN (SELECT chunk_id FROM chd)
          |UNION ALL SELECT 'event_rel_chunk_dangling', count(*) FROM er
          |  WHERE chunk_id NOT IN (SELECT chunk_id FROM chd)""".stripMargin +
          zeroAnchorSql(Seq("chunk_id_mismatch", "content_hash_mismatch",
            "event_id_malformed", "event_chunk_dangling",
            "event_rel_chunk_dangling"))),
      // north-rule P/R gate recomputed from the gold/got triple dump:
      // tp/fp/fn via set joins, the 0.95 gates as zero-anchored rows
      "kg_pr_fixture" ->
        """WITH d AS (SELECT DISTINCT chunk, side, subj, pred, obj
          |           FROM read_parquet('__OUT__/kg_pr_triples/*.parquet')),
          |gold AS (SELECT chunk, subj, pred, obj FROM d WHERE side = 'gold'),
          |got AS (SELECT chunk, subj, pred, obj FROM d WHERE side = 'got'),
          |c AS (SELECT
          |  (SELECT count(*) FROM gold JOIN got USING (chunk, subj, pred, obj)) AS tp,
          |  (SELECT count(*) FROM got WHERE NOT EXISTS (SELECT 1 FROM gold
          |     WHERE gold.chunk = got.chunk AND gold.subj = got.subj
          |       AND gold.pred = got.pred AND gold.obj = got.obj)) AS fp,
          |  (SELECT count(*) FROM gold WHERE NOT EXISTS (SELECT 1 FROM got
          |     WHERE gold.chunk = got.chunk AND gold.subj = got.subj
          |       AND gold.pred = got.pred AND gold.obj = got.obj)) AS fn),
          |g AS (SELECT tp, fp, fn,
          |  CASE WHEN CAST(tp AS DOUBLE) / greatest(tp + fp, 1) >= 0.95
          |       THEN 0 ELSE 1 END AS p_bad,
          |  CASE WHEN CAST(tp AS DOUBLE) / greatest(tp + fn, 1) >= 0.95
          |       THEN 0 ELSE 1 END AS r_bad FROM c)
          |SELECT 'tp' AS check_name, CAST(tp AS BIGINT) AS violations FROM g
          |UNION ALL SELECT 'fp', CAST(fp AS BIGINT) FROM g
          |UNION ALL SELECT 'fn', CAST(fn AS BIGINT) FROM g
          |UNION ALL SELECT 'precision_below_gate', CAST(p_bad AS BIGINT) FROM g
          |UNION ALL SELECT 'recall_below_gate', CAST(r_bad AS BIGINT) FROM g
          |UNION ALL SELECT 'precision_below_gate_is_zero', CAST(0 AS BIGINT)
          |UNION ALL SELECT 'recall_below_gate_is_zero', CAST(0 AS BIGINT)""".stripMargin,
      // chunker invariants recomputed from the chunk dumps x documents
      "chunk_recursive_check" ->
        chunkCheckOracleSql("chunk_recursive", "[. ]", Some(200)),
      "chunk_semantic_check" ->
        chunkCheckOracleSql("chunk_semantic", "[ \\t\\n\\x0B\\f\\r]", None),
      "chunk_semantic_n_check" ->
        chunkCheckOracleSql("chunk_semantic_n", "[ \\t\\n\\x0B\\f\\r]", None),
      // greedy MMR selection re-run step by step in SQL over the dumped
      // candidate/pairwise similarities
      "mmr_rerank" -> mmrOracleSql(10),
      // the mapPartitions batch scorer's top-10 must equal the top-10 of
      // the independent columnar recompute (rerank_expected dump)
      "retrieval_rerank" ->
        """SELECT doc_id, round(expected_score, 6) AS rerank_score
          |FROM read_parquet('__OUT__/rerank_expected/*.parquet')
          |ORDER BY expected_score DESC, doc_id LIMIT 10""".stripMargin,
      // stream≡batch: the streamed+consolidated triple table must be
      // row-identical to the pure-batch extraction over the same pages
      // (both dumped; the oracle simply reads the batch side)
      "stream_consolidate" ->
        """SELECT chunk_id, subj, pred, obj, description
          |FROM read_parquet('__OUT__/stream_batch_expected/*.parquet')""".stripMargin,
      // in-memory stats must agree with the same dump recomputation the
      // written-table stats use
      "kg_stats" -> kgStatsOracleSql,
      // per-class counts of the WRITTEN graph tables, each rebuilt from
      // the corresponding dump (Chunk = distinct chunk ids, MENTIONS =
      // distinct (chunk, canonical) through the name map, ...)
      "kg_stats_written" -> kgStatsOracleSql,
      // multipath+RRF over (bm25 recomputed in SQL, k=50) and (dense
      // ranks re-derived from the dumped scores): the fusion arithmetic,
      // list ranks, and BM25 list are all independently recomputed
      "retrieval_rrf" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |  FROM documents WHERE length(trim(text)) > 0),
          |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
          |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |                 (SELECT count(*) FROM toks) /
          |                   (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS avgdl),
          |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
          |idf0 AS (SELECT tok, ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS idf_raw FROM df),
          |aidf AS (SELECT avg(idf_raw) AS a FROM idf0),
          |idf AS (SELECT tok, CASE WHEN idf_raw < 0 THEN 0.25 * (SELECT a FROM aidf)
          |                         ELSE idf_raw END AS idf FROM idf0),
          |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
          |       WHERE tok IN ('spark', 'join', 'vector') GROUP BY 1, 2),
          |sc AS (SELECT tf.doc_id,
          |         round(sum(idf.idf * tf.tf * 2.5 /
          |           (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))), 6) AS score
          |       FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) GROUP BY 1),
          |bm AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
          |       FROM sc ORDER BY score DESC, doc_id LIMIT 50),
          |dn0 AS (SELECT doc_id, score FROM read_parquet('__OUT__/dense_scores/*.parquet')),
          |dn AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank FROM dn0),
          |u AS (SELECT doc_id, rank FROM bm UNION ALL SELECT doc_id, rank FROM dn)
          |SELECT doc_id, round(sum(CAST(1.0 AS DOUBLE) / (60 + rank)), 9) AS rrf_score,
          |       count(*) AS n_lists
          |FROM u GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,
      // banding-completeness check: exact all-pairs Hamming <= 3 over
      // the dumped simhash values must equal the banded+verified pairs
      "dedup_simhash" ->
        """WITH v AS (SELECT doc_id, simhash
          |           FROM read_parquet('__OUT__/simhash_values/*.parquet'))
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          |FROM v a JOIN v b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
      "ann_recall" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          |        list_cosine_similarity(e.embedding, q.qv) AS cos
          |      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
          |r AS (SELECT query_id, neighbor_id,
          |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          |      FROM s),
          |exact AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 10),
          |appr AS (
          |  SELECT 'lsh' AS family, query_id, neighbor_id
          |  FROM read_parquet('__OUT__/ann_topk_lsh/*.parquet')
          |  UNION ALL
          |  SELECT 'ivf' AS family, query_id, neighbor_id
          |  FROM read_parquet('__OUT__/ann_topk_ivf/*.parquet')),
          |h AS (SELECT family, count(*) AS n_hits
          |      FROM appr JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
          |n AS (SELECT count(*) AS n_exact FROM exact)
          |SELECT f.family, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
          |       CAST(n.n_exact AS BIGINT) AS n_exact,
          |       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / n.n_exact, 6) AS recall
          |FROM (VALUES ('ivf'), ('lsh')) f(family)
          |LEFT JOIN h ON f.family = h.family CROSS JOIN n""".stripMargin,
      // C2 token windows: same lossless tokenizer regex (whitespace
      // class spelled explicitly for Java/RE2 agreement), windows of 64
      // tokens at stride 56, concatenation reproduces the text; the
      // trailing-window rule (stop after the window that reaches the
      // end) becomes the generate_series upper bound
      "chunk_token_windows" ->
        """WITH toks AS (
          |  SELECT doc_id, regexp_extract_all(text,
          |    ' ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+') AS t
          |  FROM documents),
          |w AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
          |ks AS (SELECT doc_id, t, n,
          |         unnest(generate_series(0,
          |           CASE WHEN n <= 64 THEN 0
          |                ELSE CAST(ceil((n - 64) / 56.0) AS INT) END)) AS k
          |       FROM w)
          |SELECT doc_id, CAST(k AS INT) AS ord,
          |       array_to_string(t[k*56 + 1 : k*56 + 64], '') AS chunk
          |FROM ks""".stripMargin,
      "q_time_window" ->
        """SELECT date_trunc('hour', ts) AS window_start, event_type,
          |       count(*) AS n_events, round(sum(value), 6) AS sum_value
          |FROM events GROUP BY 1, 2""".stripMargin,
      "text_fingerprint" ->
        s"SELECT doc_id, $fp AS fp FROM documents",
      "text_quality" ->
        s"""SELECT doc_id, round(
           |  least(CAST($nTokens AS DOUBLE) / 20.0, 1.0)
           |  * (CASE WHEN $meanTokLen >= 3 AND $meanTokLen <= 10 THEN 1.0 ELSE 0.5 END)
           |  * (1.0 - least(CAST($nPunct AS DOUBLE) / greatest(length(text), 1) * 2, 1.0))
           |  * (1.0 - least(CAST($nDigits AS DOUBLE) / greatest(length(text), 1) * 2, 1.0)), 6) AS quality
           |FROM documents""".stripMargin
    )
  }
}
