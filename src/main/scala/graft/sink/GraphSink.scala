package graft.sink

import graft.GraftConfig.broadcastGate
import graft.pipeline.KGPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Graph materialization (SURVEY.md §2.4 G3-G7, G14, G15): the
  * reference upserts nodes/edges one Cypher MERGE per row into Neo4j
  * (reference event_graphrag_neo4j.py:302-558); here the same final
  * graph lands as two partitioned tables written in bulk:
  *
  *   nodes(label, node_id, name, content, props...)   partitioned by label
  *   edges(edge_type, src, dst, rank, n_sources)      partitioned by edge_type
  *
  * Labels/edge types mirror the reference node classes
  * (GraphNode.py:24-173) and relationship names: Chunk/Event/Entity
  * nodes; ENTITY_RELATION (typed), CONTAINS (chunk->event), MENTIONS
  * (chunk->entity), PARTICIPATES_IN (entity->event), SIMILAR_TO
  * (event->event). Partition-by-label makes G15's delete-by-class an
  * O(1) metadata drop instead of a scan.
  */
object GraphSink {

  /** The node classes, each with its rows of the unified node table. */
  private def nodeClasses(r: KGPipeline.Result): Seq[(String, DataFrame)] = {
    // min_by(content_hash) survivor: the SAME rule extract() uses for
    // 8-hex chunk_id collisions, so the Chunk node's text is always the
    // content whose extraction results are stored under that id (a
    // min-over-(name, content) rule could pick the OTHER colliding
    // content and leave the node text inconsistent with its edges)
    val chunkNodes = r.chunks.toDF()
      .groupBy(col("chunk_id").as("node_id"))
      .agg(min_by(struct(col("header_name").as("name"), col("content")),
        col("content_hash")).as("w"))
      .select(lit("Chunk").as("label"), col("node_id"),
        col("w.name").as("name"), col("w.content").as("content"))
    val eventNodes = r.events
      .select(lit("Event").as("label"), col("event_id").as("node_id"),
        col("event_type").as("name"), col("content"))
    val entityNodes = r.entities
      .select(lit("Entity").as("label"), col("canonical_id").as("node_id"),
        col("entity_name").as("name"),
        concat_ws(" | ", col("descriptions")).as("content"))
    Seq("Chunk" -> chunkNodes, "Event" -> eventNodes, "Entity" -> entityNodes)
  }

  /** The edge classes, each with its rows of the unified edge table:
    * the reference relationship classes. */
  private def edgeClasses(r: KGPipeline.Result): Seq[(String, DataFrame)] = Seq(
    "ENTITY_RELATION" -> r.edges.select(
      lit("ENTITY_RELATION").as("edge_type"), col("pred"),
      col("subj_id").as("src"), col("obj_id").as("dst"),
      lit(0).as("rank"), col("n_sources")),
    "CONTAINS" -> r.events.select(
      lit("CONTAINS").as("edge_type"), lit(null: String).as("pred"),
      col("chunk_id").as("src"), col("event_id").as("dst"),
      lit(0).as("rank"), lit(1L).as("n_sources")),
    "MENTIONS" -> r.mentions
      .join(r.nameMap, r.mentions("entityName") === r.nameMap("entity_name"))
      .select(lit("MENTIONS").as("edge_type"), lit(null: String).as("pred"),
        col("chunk_id").as("src"), col("canonical_id").as("dst"),
        lit(0).as("rank"), lit(1L).as("n_sources"))
      .dropDuplicates("src", "dst"),
    "PARTICIPATES_IN" -> r.participates.select(
      lit("PARTICIPATES_IN").as("edge_type"), lit(null: String).as("pred"),
      col("canonical_id").as("src"), col("event_id").as("dst"),
      lit(0).as("rank"), lit(1L).as("n_sources")),
    "SIMILAR_TO" -> r.eventSimilar.select(
      lit("SIMILAR_TO").as("edge_type"), lit(null: String).as("pred"),
      col("src_event").as("src"), col("dst_event").as("dst"),
      col("rank"), lit(1L).as("n_sources")),
    // G6: typed event->event logic edges (EVENT_RELATION {type},
    // reference event_graphrag_neo4j.py:428-477)
    "EVENT_RELATION" -> r.eventEdges.select(
      lit("EVENT_RELATION").as("edge_type"),
      col("relation_type").as("pred"),
      col("head_id").as("src"), col("tail_id").as("dst"),
      lit(0).as("rank"), col("n_sources")))

  /** Unified labeled node table from the pipeline result. */
  def nodes(r: KGPipeline.Result): DataFrame =
    nodeClasses(r).map(_._2).reduce(_.unionByName(_))

  /** Unified typed edge table: the reference relationship classes. */
  def edges(r: KGPipeline.Result): DataFrame =
    edgeClasses(r).map(_._2).reduce(_.unionByName(_))

  /** Write both tables partitioned by class (bulk write — the
    * set-semantics dedup already happened upstream, so no MERGE). */
  def write(r: KGPipeline.Result, outDir: String): Unit = {
    nodes(r).write.mode(SaveMode.Overwrite)
      .partitionBy("label").parquet(s"$outDir/nodes")
    edges(r).write.mode(SaveMode.Overwrite)
      .partitionBy("edge_type").parquet(s"$outDir/edges")
  }

  /** G14 statistics: counts by node label and edge type
    * (reference event_graphrag_neo4j.py:560-576 runs 13 count queries;
    * one grouped aggregate replaces them). */
  def stats(r: KGPipeline.Result): DataFrame = {
    // Each class's own frame is counted, so no payload column is
    // materialized: column pruning drops the node texts and the
    // edge/node projections a count never reads, and no six-way union
    // shuffles (guide §2.3 — shuffle keys, not payloads). The count > 0
    // filter keeps the groupBy semantics of counting the union (an empty
    // class emits no row, not a zero row).
    def counts(kind: String, classes: Seq[(String, DataFrame)]): Seq[DataFrame] =
      classes.map { case (cls, df) =>
        df.agg(count(lit(1)).as("count"))
          .select(lit(kind).as("kind"), lit(cls).as("class"), col("count"))
      }
    (counts("node", nodeClasses(r)) ++ counts("edge", edgeClasses(r)))
      .reduce(_.unionByName(_)).filter(col("count") > 0)
  }

  /** One (check_name, violations) count row — shared by every invariant
    * check builder ([[integrity]], [[aliasClosure]] and SparkEntry's) so
    * the check-row shape cannot drift between them (and stays aligned
    * with the oracle SQL's SELECT shape). */
  private[graft] def checkCount(name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check_name"), col("violations"))

  /** Referential-integrity gate over the whole graph: every edge
    * endpoint must resolve to an existing node (the Cypher-MATCH
    * no-dangling guarantee the bulk-relational encoding must preserve).
    * Emitted as data rows so the driver's oracle can recompute each
    * count independently from the dumped tables — a violations>0 row
    * or a Spark-vs-DuckDB join-semantics divergence both break the
    * correctness gate. Each id set passes the broadcast gate with the
    * caller's row count of its node frame (None = unknown: no hint);
    * the chunk frame's count bounds its distinct chunk ids from above.
    * Nothing here counts. */
  def integrity(r: KGPipeline.Result, cfg: graft.GraftConfig,
      entityRows: Option[Long], eventRows: Option[Long],
      chunkRows: Option[Long]): DataFrame = {
    // ONE un-renamed subtree per id space (ents 3x, evs 5x, chs 2x),
    // joined with explicit conditions, so ReuseExchange builds each id
    // set once for the whole 11-check union (guide §2.4; a per-check
    // rename made each build side a distinct plan). Under the cap each
    // id set broadcasts and no edge/event/triple stream shuffles for its
    // anti-join; past it the joins sort-merge over the reused exchange.
    val ents = broadcastGate(r.entities.select(col("canonical_id")), entityRows, cfg)
    val evs = broadcastGate(r.events.select(col("event_id")), eventRows, cfg)
    val chs = broadcastGate(r.chunks.toDF().select(col("chunk_id")).distinct(), chunkRows, cfg)
    Seq(
      checkCount("edges_dangling_subj", r.edges.join(
        ents, col("subj_id") === col("canonical_id"), "left_anti")),
      checkCount("edges_dangling_obj", r.edges.join(
        ents, col("obj_id") === col("canonical_id"), "left_anti")),
      checkCount("participates_dangling_entity", r.participates.join(
        ents, Seq("canonical_id"), "left_anti")),
      checkCount("participates_dangling_event", r.participates.join(
        evs, Seq("event_id"), "left_anti")),
      checkCount("event_edges_dangling_head", r.eventEdges.join(
        evs, col("head_id") === col("event_id"), "left_anti")),
      checkCount("event_edges_dangling_tail", r.eventEdges.join(
        evs, col("tail_id") === col("event_id"), "left_anti")),
      checkCount("events_dangling_chunk", r.events.join(chs, Seq("chunk_id"), "left_anti")),
      checkCount("triples_dangling_chunk", r.triples.join(chs, Seq("chunk_id"), "left_anti")),
      // pre-aggregation event relations must reference fired events
      // (E4 drops unknown endpoints — a dangling id here means the
      // extractor emitted a relation for an event it never emitted)
      checkCount("event_rels_dangling_head", r.eventRels.join(
        evs, col("head_event_id") === col("event_id"), "left_anti")),
      checkCount("event_rels_dangling_tail", r.eventRels.join(
        evs, col("tail_event_id") === col("event_id"), "left_anti")),
      // G4 identity contract: event_id = chunk_id + "_event_" + ord
      checkCount("event_id_malformed", r.events.filter(
        !col("event_id").startsWith(concat(col("chunk_id"), lit("_event_")))))
    ).reduce(_.unionByName(_))
  }

  /** Canonicalization-closure gate (companion to [[integrity]]): the
    * invariants the G12 merge + G9/G10 canonicalization must establish,
    * emitted as data rows so the DuckDB oracle can recompute each count
    * independently from the dumped name map / entities / mentions:
    *  - every raw surface maps to exactly one canonical id (the alias
    *    closure is a function);
    *  - each canonical id is the MIN member name_key of its component
    *    (the CC representative invariant);
    *  - name map and entity table reference each other with no dangling
    *    ids in either direction;
    *  - every mention surface is in the map (nothing fell off an
    *    accumulator cap — a dropped surface would silently lose triples
    *    at the endpoint rewrite). */
  def aliasClosure(r: KGPipeline.Result): DataFrame = {
    val nm = r.nameMap
    Seq(
      checkCount("aliases_multi_mapped", nm.groupBy("entity_name")
        .agg(countDistinct("canonical_id").as("n")).filter(col("n") > 1)),
      checkCount("canonical_not_min_member", nm.groupBy("canonical_id")
        .agg(min("name_key").as("mn")).filter(col("mn") =!= col("canonical_id"))),
      checkCount("namemap_dangling_canonical", nm.select("canonical_id").distinct()
        .join(r.entities.select("canonical_id"), Seq("canonical_id"), "left_anti")),
      checkCount("entities_without_alias", r.entities.select("canonical_id")
        .join(nm.select("canonical_id").distinct(), Seq("canonical_id"), "left_anti")),
      checkCount("mention_surface_unmapped",
        r.mentions.select(col("entityName").as("entity_name")).distinct()
          .join(nm.select("entity_name"), Seq("entity_name"), "left_anti"))
    ).reduce(_.unionByName(_))
  }

  /** Write the graph through [[write]] (the partitioned production
    * layout, G15's delete target) and read the WRITTEN tables back as
    * per-class counts — so Verify exercises the partitionBy write path,
    * not just the in-memory frames, and the oracle recomputes every
    * count from the dumped tables. */
  def writtenStats(spark: SparkSession, r: KGPipeline.Result,
      outDir: String): DataFrame = {
    import spark.implicits._
    write(r, outDir)
    val n = spark.read.parquet(s"$outDir/nodes")
      .groupBy(col("label").as("class")).count()
      .withColumn("kind", lit("node"))
    val e = spark.read.parquet(s"$outDir/edges")
      .groupBy(col("edge_type").as("class")).count()
      .withColumn("kind", lit("edge"))
    // collect the per-class counts (one row per node label / edge type
    // — driver-sized by construction) BEFORE deleting the temp graph:
    // a lazy plan handed back would re-read the deleted tables, and
    // NOT deleting leaks a full nodes+edges copy per run (round-3
    // verdict #3 / ADVICE)
    val rows = n.unionByName(e).select("kind", "class", "count")
      .collect().map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2)))
    val p = new org.apache.hadoop.fs.Path(outDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    rows.toSeq.toDF("kind", "class", "count")
  }

  /** G15 delete-by-class (reference event_graphrag_neo4j.py:578-598):
    * with label-partitioned tables this is a partition drop. */
  def deleteClass(spark: SparkSession, outDir: String, label: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/nodes/label=$label")
    // resolve the PATH's filesystem, not the default one — outDir may
    // live on a non-default scheme (s3a:// with an HDFS default FS);
    // same rule as Lineage.committed
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
  }
}
