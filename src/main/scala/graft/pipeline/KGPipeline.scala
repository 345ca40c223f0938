package graft.pipeline

import graft.canon.Canonicalizer
import graft.chunk.MarkdownSplitter
import graft.extract.TripleExtractor
import graft.pages.{Page, PagesGenerator}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end KG-construction DAG (north rule):
  *
  *   pages -> text (deterministic html->markdown) -> chunks ->
  *   mentions + triples (mapPartitions, broadcast KB) ->
  *   canonical entities (G12 + MinHash-LSH + CC + merge) ->
  *   edges -> nodes/edges tables
  *
  * Every stage is a narrow transform or an explicit, keyed shuffle:
  *  - chunking/extraction: narrow flatMap/mapPartitions, no shuffle;
  *  - chunk dedup: one hash shuffle on chunk_id (uniform — md5);
  *  - canonicalization: salted two-phase agg + LSH band join + CC;
  *  - html BINARY never survives past the text projection (column
  *    pruning keeps it out of every downstream scan).
  */
object KGPipeline {

  final case class ChunkRow(
      chunk_id: String,
      url: String,
      ord: Int,
      header_level: Int,
      header_name: String,
      content: String,
      content_hash: String)

  /** The reference chunk identity "chunk_" + md5(content)[:8]
    * (Base_Neo4j.py:95-107), computed in-flatMap with a thread-local
    * digest so chunking + id assignment stay one object pipeline (no
    * extra serialize/project hop between the typed transforms). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Full md5 hex of the content (collision-free for practical
    * purposes — the deterministic dedup key; chunk_id keeps the
    * reference's lossy 8-hex form). */
  def md5Hex(content: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new StringBuilder(32)
    var i = 0
    while (i < 16) {
      hex.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      hex.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    hex.toString
  }

  def chunkId(content: String): String =
    "chunk_" + md5Hex(content).substring(0, 8)

  /** Chunk ONE page — the single chunk-identity recipe, shared by the
    * batch flatMap and the streaming front so the two paths can never
    * desynchronize on hashing/id assignment. */
  def chunkPage(p: Page, fromHtml: Boolean = true): Seq[ChunkRow] = {
    val text =
      if (fromHtml) graft.html.HtmlToMarkdown(
        new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
      else p.text
    MarkdownSplitter.split(text).zipWithIndex.collect {
      case (s, i) if s.content.nonEmpty =>
        val h = md5Hex(s.content)
        ChunkRow("chunk_" + h.substring(0, 8), p.url, i,
          s.header.level, s.header.name, s.content, h)
    }
  }

  /** Chunking: narrow flatMap. `text` recomputed from html when
    * `fromHtml` (exercises the byte-identity stage S1); chunk identity
    * is the reference's content hash (G1). */
  def chunk(pages: Dataset[Page], fromHtml: Boolean = true): Dataset[ChunkRow] = {
    import pages.sparkSession.implicits._
    pages.flatMap(p => chunkPage(p, fromHtml))
  }

  /** Mention + triple extraction, deduped to one result per distinct
    * chunk content (identical content => identical extraction, G2
    * semantics). Extraction runs as a NARROW transform over every chunk
    * instance — the full chunk text never shuffles; only the compact
    * per-chunk result arrays do. Dedup is two-phase like a partial
    * aggregate: a per-partition seen-set drops the (Zipf-heavy)
    * duplicate contents early, then `dropDuplicates(chunk_id)` merges
    * across partitions (safe: every surviving row for a chunk_id is
    * identical). The extractor is broadcast; its Aho-Corasick automaton
    * builds once per executor. */
  final case class Extraction(
      mentions: DataFrame, triples: DataFrame, events: DataFrame,
      eventRels: DataFrame)

  def extract(spark: SparkSession, chunks: Dataset[ChunkRow],
      stageDir: Option[String] = None): Extraction = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(TripleExtractor.default)
    // COMPACT emission (TripleExtractor.extractAllCompact): the arrays
    // crossing the consolidation shuffle carry spec INDEXES plus the
    // short open-vocabulary literals, not the expanded strings — the
    // spec strings are vocabulary-bounded and would otherwise repeat
    // once per firing chunk through shuffle write, sort and shuffle
    // read. Expansion happens once, after the survivor agg
    // (consolidate), so every staged/downstream table is unchanged.
    val raw0 = chunks.mapPartitions { it =>
      val ex = bc.value
      val seen = scala.collection.mutable.HashSet.empty[String]
      it.flatMap { c =>
        if (seen.add(c.content_hash)) {
          val (ms, ts, es, rs) = ex.extractAllCompact(c.content)
          Iterator.single((c.chunk_id, c.content_hash, ms, ts, es, rs))
        } else Iterator.empty
      }
    }.toDF("chunk_id", "content_hash", "mentions", "triples", "events", "event_rels")
    consolidate(raw0, stageDir, Some(bc))
  }

  /** Consolidation: deterministic survivor per 8-hex chunk id, then
    * explode into the four result tables. Shared by the batch path and
    * the streaming staging table (StreamOps.streamingExtract emits
    * exactly this input schema), so stream-append-then-consolidate
    * equals the pure-batch pipeline — asserted end-to-end in
    * StreamOpsSpec, not just argued. */
  def consolidate(raw0: DataFrame, stageDir: Option[String] = None,
      bcEx: Option[org.apache.spark.broadcast.Broadcast[TripleExtractor]] = None)
      : Extraction = {
    val spark = raw0.sparkSession
    import spark.implicits._
    val bc = bcEx.getOrElse(
      spark.sparkContext.broadcast(TripleExtractor.default))
    // chunk_id is the reference's 8-hex md5 prefix (G1): at web scale
    // DIFFERENT contents collide in the 32-bit id space (~1k collisions
    // per 3M distinct chunks), and a dropDuplicates survivor would
    // depend on partition order — min_by(full content hash) pins a
    // deterministic first-writer per id, so output is identical at any
    // parallelism. Catalyst plans this min_by as SortAggregate (the
    // struct-of-arrays buffer is not hash-aggregable); a window-rank
    // rewrite (row_number over chunk_id ordered by content_hash, keep
    // rank 1) was A/B-measured against it at 1M pages, 3 interleaved
    // reps each: min_by 52.5/56.6/58.0 s vs window 52.8/58.5/60.2 s,
    // bit-identical triples. The window form was never faster — the
    // sort is not the bottleneck here (the per-partition `seen` filter
    // already shrank the input to ~distinct rows) — so the simpler
    // aggregate form stays.
    val raw = raw0
      .groupBy("chunk_id")
      .agg(min_by(struct(col("mentions"), col("triples"), col("events"),
        col("event_rels")), col("content_hash")).as("w"))
      .select(col("chunk_id"), col("w.mentions").as("mentions"),
        col("w.triples").as("triples"), col("w.events").as("events"),
        col("w.event_rels").as("event_rels"))
    // The extraction result fans out to ~10 downstream consumers. Two
    // sharing modes:
    //  - stageDir set (production/bench shape): write once, re-read — a
    //    parquet scan is column-prunable AND truncates the logical plan,
    //    so the driver stops re-optimizing the whole chunk+extract tree
    //    for every downstream action (localCheckpoint would truncate too
    //    but its RDD scan defeats column pruning);
    //  - no stageDir (small interactive runs): columnar persist.
    // The staged/persisted table keeps the COMPACT spec-index form (7x
    // smaller than the expanded strings at 1M pages): the reduce tasks
    // never materialize the vocabulary strings, and every consumer
    // below expands declaratively — explode ints, broadcast-join a
    // spec dimension, project — inside whole-stage codegen.
    val both = stageDir match {
      case Some(dir) =>
        Jobs.named(spark, "extract: chunk+extract+dedup -> stage write") {
          raw.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$dir/extraction")
        }
        // the written schema, not an inference read of the footers
        spark.read.schema(raw.schema).parquet(s"$dir/extraction")
      case None =>
        raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // spec dimension tables: one row per spec index, vocabulary-bounded
    // (driver-built, broadcast). bc.value on the driver is the local
    // instance — no deserialization.
    val ex = bc.value
    val mDim = broadcast(ex.mentionSpecRows
      .toDF("idx", "d_surface", "d_name", "d_type", "d_desc"))
    val tDim = broadcast(ex.tripleSpecRows
      .toDF("idx", "d_subj", "d_pred", "d_obj", "d_desc"))
    val eDim = broadcast(ex.eventSpecRows
      .toDF("idx", "d_content", "d_type", "d_participants"))
    val rDim = broadcast(ex.eventRelSpecRows
      .toDF("idx", "d_type", "d_desc"))
    // posexplode: the within-chunk mention position is the tiebreaker of
    // the first-writer order the canonicalizer uses (reference ON CREATE
    // SET semantics — Canonicalizer.canonicalize). Open-vocabulary rows
    // (idx < 0) carry their literals inline; the left join leaves their
    // dim columns null and the projection falls back to the literal.
    val mentions = both
      .select(col("chunk_id"), posexplode(col("mentions")).as(Seq("ord", "m")))
      .select(col("chunk_id"), col("ord"),
        col("m._1").as("idx"), col("m._2").as("s"))
      .join(mDim, Seq("idx"), "left")
      .select(col("chunk_id"), col("ord"),
        coalesce(col("s"), col("d_surface")).as("surface"),
        coalesce(col("s"), col("d_name")).as("entityName"),
        when(col("idx") === -1, "部件型号")
          .when(col("idx") === -2, "部件类别")
          .otherwise(col("d_type")).as("entityType"),
        when(col("idx") < 0, "").otherwise(col("d_desc"))
          .as("entityDescription"))
    val triples = both
      .select(col("chunk_id"), explode(col("triples")).as("t"))
      .select(col("chunk_id"), col("t._1").as("idx"),
        col("t._2").as("s1"), col("t._3").as("s2"))
      .join(tDim, Seq("idx"), "left")
      .select(col("chunk_id"),
        coalesce(col("s1"), col("d_subj")).as("subj"),
        when(col("idx") === -1, "属于关系").otherwise(col("d_pred")).as("pred"),
        coalesce(col("s2"), col("d_obj")).as("obj"),
        when(col("idx") === -1, "").otherwise(col("d_desc")).as("description"))
    // G4 semantics: event identity = chunk_id + "_event_" + ord
    // (reference event_graphrag_neo4j.py:139,373-396)
    val events = both
      .select(col("chunk_id"), explode(col("events")).as("e"))
      .select(col("chunk_id"), col("e._1").as("ord"), col("e._2").as("idx"))
      .join(eDim, Seq("idx"))
      .select(
        concat(col("chunk_id"), lit("_event_"), col("ord")).as("event_id"),
        col("chunk_id"),
        col("d_content").as("content"), col("d_type").as("event_type"),
        col("d_participants").as("participants"))
    // event relations, endpoints as same-chunk event ids (the extractor
    // already resolved ords against the fired events — E4 semantics)
    val eventRels = both
      .select(col("chunk_id"), explode(col("event_rels")).as("r"))
      .select(col("chunk_id"), col("r._1").as("head_ord"),
        col("r._2").as("tail_ord"), col("r._3").as("idx"))
      .join(rDim, Seq("idx"))
      .select(col("chunk_id"),
        concat(col("chunk_id"), lit("_event_"), col("head_ord"))
          .as("head_event_id"),
        concat(col("chunk_id"), lit("_event_"), col("tail_ord"))
          .as("tail_event_id"),
        col("d_type").as("relation_type"), col("d_desc").as("description"))
    Extraction(mentions, triples, events, eventRels)
  }

  /** G6 event-relation edges: the reference stores one EVENT_RELATION
    * edge per (head content, tail content, type), matching event nodes
    * BY CONTENT (event_graphrag_neo4j.py:428-477). Spark form: resolve
    * each endpoint to its content representative
    * (`Canonicalizer.eventReps`, as the event KNN G13 does), then one
    * dedup aggregate keyed (head, tail, type). n_sources counts the
    * chunk-level provenance the per-row MERGEs would have replayed. */
  def eventEdges(events: DataFrame, eventRels: DataFrame): DataFrame = {
    val rep = Canonicalizer.eventReps(events)
      .join(events.select(col("event_id"), Canonicalizer.eventContentKey), "ch")
      .select(col("event_id"), col("rep_id"))
    // ONE un-renamed rep subtree for both endpoint joins (explicit
    // conditions -> ReuseExchange computes the map once — same pattern
    // as the triple rewrite and integrity)
    eventRels
      .join(rep, col("head_event_id") === col("event_id"))
      .withColumnRenamed("rep_id", "head_id").drop("event_id")
      .join(rep, col("tail_event_id") === col("event_id"))
      .withColumnRenamed("rep_id", "tail_id").drop("event_id")
      .groupBy("head_id", "tail_id", "relation_type")
      .agg(min("description").as("description"),
        count(lit(1)).as("n_sources"))
  }

  /** Full in-memory DAG (stage-checkpointed variant in [[KGJob]]). */
  final case class Result(
      pages: Dataset[Page],
      chunks: Dataset[ChunkRow],
      mentions: DataFrame,
      triples: DataFrame,
      events: DataFrame,
      entities: DataFrame,
      nameMap: DataFrame,
      edges: DataFrame,
      participates: DataFrame,
      eventSimilar: DataFrame,
      eventEdges: DataFrame,
      eventRels: DataFrame)

  /** The KG DAG from the chunks extraction reads to the graph tables,
    * built once: each named frame, in dependency order, passes through
    * `stage`, and later frames read what it returned ([[runOnPages]]
    * checkpoints the names and the name map, [[KGJob]] commits every
    * frame), with the frame's row count when the hook knows it without a
    * job (it feeds the verify's and the endpoint rewrite's broadcast
    * gates). Extraction and canonicalization are lazy, so a hook serving
    * a committed stage never builds the frames below it. */
  final class Graph(chunks: Dataset[ChunkRow], cfg: graft.GraftConfig,
      stage: String => (=> DataFrame) => (DataFrame, Option[Long]),
      stageDir: Option[String] = None) {
    private def frame(name: String)(df: => DataFrame): DataFrame = stage(name)(df)._1
    lazy val extraction = extract(chunks.sparkSession, chunks, stageDir)
    val mentions = frame("mentions")(extraction.mentions)
    val triples = frame("triples")(extraction.triples)
    val events = frame("events")(extraction.events)
    val eventEdges = frame("event_edges")(KGPipeline.eventEdges(events, extraction.eventRels))
    // chunkId in mentions/triples refers to the distinct chunk; re-join
    // provenance (all urls containing the chunk) happens on demand
    private lazy val names = Jobs.named(chunks.sparkSession, "canon: distinct-name agg (G12)") {
      stage("names")(Canonicalizer.names(mentions.withColumnRenamed("chunk_id", "chunkId"), cfg))
    }
    private lazy val canonical = Canonicalizer.canonicalize(names._1, names._2, cfg)
    val entities = frame("entities")(canonical._1)
    val (nameMap, nameMapRows) = stage("name_map")(canonical._2)
    val edges = frame("edges")(Canonicalizer.rewriteTriples(
      triples.withColumnRenamed("chunk_id", "chunkId"), nameMap, nameMapRows, cfg))
    // G7 PARTICIPATES_IN: explode participants, resolve through the
    // canonical map (inner join drops names killed by the filters —
    // Cypher MATCH semantics, reference event_graphrag_neo4j.py:479-558)
    val participates = frame("participates") {
      events.select(col("event_id"), explode(col("participants")).as("entity_name"))
        .join(nameMap, "entity_name").select(col("canonical_id"), col("event_id"))
        .distinct()
    }
    // G13 event disambiguation: hyperplane-LSH candidates over content
    // embeddings, cosine >= cutoff (default 0.85), top-k per event
    val eventSimilar = frame("event_similar")(
      Canonicalizer.eventKnn(events, cfg.eventKnnTopK, cfg.eventKnnCutoff))
  }

  def run(spark: SparkSession, nPages: Long, partitions: Int = 32,
      cfg: graft.GraftConfig = graft.GraftConfig.default): Result =
    // Generated pages carry text ≡ HtmlToMarkdown(html) by construction
    // (PagesGenerator.page runs the REAL S1 parser to fill the text
    // column), so chunking from text here skips a second identical
    // parse of every page — the parse still executes exactly once per
    // page, inside the generator map, and the chunk output is
    // bit-identical (pinned by PipelineSpec). The external-pages path
    // (runOnPages default, the bench scaling children over the parquet
    // pages table) keeps fromHtml = true.
    runOnPages(spark, PagesGenerator.pages(spark, nPages, partitions),
      fromHtml = false, cfg = cfg)

  /** Same DAG over an externally supplied pages table (the real job
    * shape: spark.read over the Iceberg/parquet pages table). */
  def runOnPages(spark: SparkSession, pages: Dataset[Page],
      fromHtml: Boolean = true, stageDir: Option[String] = None,
      cfg: graft.GraftConfig = graft.GraftConfig.default): Result = {
    // names (read by the LSH banding, the verify and the CC) and the name
    // map (by the endpoint rewrite and participant resolution) are each
    // checkpointed and counted in one job, so their subtrees compute once
    // per action; every other frame stays a plan of unknown size
    def inMemory(name: String)(df: => DataFrame): (DataFrame, Option[Long]) = {
      def counted = Jobs.countedCheckpoint(df) match { case (cp, n) => (cp, Some(n)) }
      name match {
        case "names" => counted // under the Graph's G12 label
        case "name_map" => Jobs.named(spark, "canon: nameMap checkpoint")(counted)
        case _ => (df, None)
      }
    }
    val chunks = chunk(pages, fromHtml)
    val g = new Graph(chunks, cfg, inMemory, stageDir)
    Result(pages, chunks, g.mentions, g.triples, g.events, g.entities,
      g.nameMap, g.edges, g.participates, g.eventSimilar, g.eventEdges,
      g.extraction.eventRels)
  }
}
