package graft.pipeline

import graft.SparkSpec
import graft.canon.Canonicalizer
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A local-FS-backed FileSystem under its own scheme — stands in for
  * hdfs://s3a:// in the resume test (zero-egress sandbox). */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

class PipelineSpec extends SparkSpec {

  private def sortedRows(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      if (f.dataType == org.apache.spark.sql.types.BinaryType) md5(col(f.name))
      else col(f.name)
    }
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  test("chunking generated pages from text equals chunking from html") {
    // the r6 run() optimization rests on this invariant: generated
    // pages carry text ≡ HtmlToMarkdown(html), so the fromHtml=false
    // chunk path (one parse per page, in the generator) must be
    // bit-identical to re-parsing the html a second time
    val pages = graft.pages.PagesGenerator.pages(spark, 200, 4)
    val fromHtml = KGPipeline.chunk(pages, fromHtml = true).collect()
      .map(_.toString).sorted.toSeq
    val fromText = KGPipeline.chunk(pages, fromHtml = false).collect()
      .map(_.toString).sorted.toSeq
    assert(fromHtml == fromText)
    assert(fromHtml.nonEmpty)
  }

  test("pipeline is deterministic under different parallelism") {
    val a = KGPipeline.run(spark, 150, partitions = 3)
    val b = KGPipeline.run(spark, 150, partitions = 7)
    assert(sortedRows(a.triples) == sortedRows(b.triples))
    assert(sortedRows(a.entities) == sortedRows(b.entities))
    assert(sortedRows(a.edges) == sortedRows(b.edges))
    // the ordinal-id tables too — events/eventEdges/mentions carry
    // within-chunk positions, exactly where a partition-order
    // dependence would first show up
    assert(sortedRows(a.mentions) == sortedRows(b.mentions))
    assert(sortedRows(a.events) == sortedRows(b.events))
    assert(sortedRows(a.eventEdges) == sortedRows(b.eventEdges))
    assert(sortedRows(a.eventRels) == sortedRows(b.eventRels))
    assert(sortedRows(a.participates) == sortedRows(b.participates))
  }

  test("alias variants merge back into base entities") {
    val r = KGPipeline.run(spark, 200, partitions = 4)
    val merged = r.entities.filter(col("n_merged_names") > 1)
    // the planted suffix/hyphen alias surfaces must not survive as
    // canonical entity names — a surviving one means a missed merge.
    // A pure CASE variant of a base MAY survive as the display name:
    // the reference's lowercase merge keeps the first-created node,
    // name included (Base_Neo4j.py:922-950), and canonicalize ports
    // that as first-writer-by-(chunkId, ord).
    val variantSet = graft.pages.PagesGenerator.aliasSurfaces.toSet
    val baseLower = graft.pages.PagesGenerator.aliasBases.map(_.toLowerCase).toSet
    val names = r.entities.select("entity_name").collect().map(_.getString(0))
    val leaked = names.filter(n =>
      variantSet.contains(n) && !baseLower.contains(n.toLowerCase))
    assert(leaked.isEmpty, s"unmerged alias variants: ${leaked.mkString(", ")}")
    assert(merged.count() > 0, "no merges happened at all")
  }

  test("edges endpoints resolve to canonical ids (no dangling)") {
    val r = KGPipeline.run(spark, 100, partitions = 4)
    val ids = r.entities.select(col("canonical_id")).distinct()
    val dangling = r.edges
      .join(ids.withColumnRenamed("canonical_id", "subj_id"), Seq("subj_id"), "left_anti")
    assert(dangling.count() == 0)
  }

  test("resume reproduces an uninterrupted run exactly") {
    val full = Files.createTempDirectory("kg_full").toString
    val part = Files.createTempDirectory("kg_part").toString
    KGJob.run(spark, 120, full, resume = false, partitions = 4)
    KGJob.run(spark, 120, part, resume = false, partitions = 4)
    def pagesMetricRows: Long = spark.read.parquet(s"$part/_metrics")
      .filter(col("stage") === "pages").count()
    val pagesRowsBefore = pagesMetricRows
    // simulate a kill after "triples": drop all downstream outputs
    Seq("entities", "name_map", "edges").foreach { s =>
      val dir = new java.io.File(s"$part/$s")
      if (dir.exists) { dir.listFiles.foreach(_.delete()); dir.delete() }
    }
    KGJob.run(spark, 120, part, resume = true, partitions = 4)
    for (t <- Seq("pages", "chunks", "mentions", "triples", "entities", "edges")) {
      val a = sortedRows(spark.read.parquet(s"$full/$t"))
      val b = sortedRows(spark.read.parquet(s"$part/$t"))
      assert(a == b, s"table $t differs after resume")
    }
    // upstream stages committed exactly once (no replays): the metrics
    // row COUNT for the stage must not grow across the resume —
    // countDistinct(committed_at) would miss a recommit landing on the
    // same coarse timestamp
    assert(pagesMetricRows == pagesRowsBefore,
      "resumed run recommitted an upstream stage")
  }

  test("entity type and display name are first-writer-wins by (chunkId, ord)") {
    import spark.implicits._
    // one name under two types and two cases: the mention with the
    // smallest (chunkId, ord) must fix both, matching the reference's
    // MERGE ... ON CREATE SET (event_graphrag_neo4j.py:336-360)
    val mentions = Seq(
      ("chunk_bb", 0, "Widget", "ToolB", "later chunk"),
      ("chunk_aa", 1, "WIDGET", "ToolA", "first chunk, second mention"),
      ("chunk_aa", 0, "widget", "ToolZ", "first chunk, first mention"),
      ("chunk_cc", 0, "Widget", "ToolC", "third chunk")
    ).toDF("chunkId", "ord", "entityName", "entityType", "entityDescription")
    val (entities, _) = Canonicalizer.canonicalize(Canonicalizer.names(mentions), None)
    val row = entities.select("entity_name", "entity_type", "n_mentions").head()
    assert(row.getString(0) == "widget", s"display: ${row.getString(0)}")
    assert(row.getString(1) == "ToolZ", s"type: ${row.getString(1)}")
    assert(row.getLong(2) == 4L)
    // without an ord column the per-chunk order defaults flat (ord=0)
    // but chunk order still decides deterministically
    val (e2, _) = Canonicalizer.canonicalize(Canonicalizer.names(
      mentions.drop("ord").filter(col("chunkId") =!= "chunk_aa")), None)
    assert(e2.select("entity_type").head().getString(0) == "ToolB")
  }

  test("resume works against a non-local filesystem scheme (Hadoop FS API)") {
    // mockfs:// resolves through the Hadoop FileSystem registry (backed
    // by the local FS); java.nio Files.exists cannot see this scheme, so
    // the test fails if the _SUCCESS probe regresses to driver-local IO
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[MockFs].getName)
    val dir = Files.createTempDirectory("kg_mockfs").toString
    val out = s"mockfs://$dir"
    KGJob.run(spark, 60, out, resume = false, partitions = 2)
    val m1 = spark.read.parquet(s"$out/_metrics")
      .filter(col("stage") === "pages").count()
    // resumed run: every stage already committed => no new metrics rows
    KGJob.run(spark, 60, out, resume = true, partitions = 2)
    val m2 = spark.read.parquet(s"$out/_metrics")
      .filter(col("stage") === "pages").count()
    assert(m1 == m2, "resume re-ran a committed stage through mockfs://")
    assert(spark.read.parquet(s"$out/chunks").count() > 0)
  }

  test("open-vocabulary codes: variant surfaces merge, 属于 edges resolve") {
    import org.apache.spark.sql.functions.col
    val r = KGPipeline.run(spark, 300, partitions = 4)
    val codes = r.entities.filter(col("entity_type") === "部件型号").persist()
    val n = codes.count()
    assert(n > 50, s"open vocabulary too small: $n")
    // every punctuation/case/space variant of one code embeds to the
    // same key — if two canonical entities share one, a merge was missed
    val keys = codes.select("entity_name").collect()
      .map(row => graft.canon.Canonicalizer.embedKey(row.getString(0)))
    assert(keys.distinct.length == keys.length,
      s"unmerged code variants: ${keys.diff(keys.distinct).take(5).mkString(", ")}")
    // Zipf head: hot codes were seen under >1 surface and merged
    assert(codes.filter(col("n_merged_names") > 1).count() > 0,
      "no variant merges happened in the open vocabulary")
    // the 属于 relation stream reaches the edge table with both
    // endpoints canonical (inner-join semantics drop nothing silently
    // here because category mentions are emitted alongside)
    val belongEdges = r.edges.filter(col("pred") === "属于关系")
    assert(belongEdges.count() > 0, "no 属于 edges materialized")
    codes.unpersist()
  }

  test("event-relation edges materialize non-vacuously with resolved endpoints") {
    val r = KGPipeline.run(spark, 150, partitions = 4)
    val edges = r.eventEdges.persist()
    assert(edges.count() > 0, "no event-relation edges fired (G6 vacuous)")
    // all four prompt-contract relation types reach the graph
    val types = edges.select("relation_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("时序关系", "因果关系", "层级关系", "条件关系"),
      s"missing relation types: got $types")
    // endpoints resolve to existing event nodes (MATCH-by-content
    // semantics: dangling endpoints are impossible by construction)
    val eventIds = r.events.select(col("event_id").as("head_id"))
    val dangling = edges.join(eventIds, Seq("head_id"), "left_anti")
    assert(dangling.count() == 0, "edge references a missing event")
    // no self-loops: distinct contents by construction
    assert(edges.filter(col("head_id") === col("tail_id")).count() == 0)
    edges.unpersist()
  }

  test("resume recomputes a committed stage whose schema predates required columns") {
    val dir = Files.createTempDirectory("kg_schema").toString
    KGJob.run(spark, 40, dir, resume = false, partitions = 2)
    // simulate an outDir written by an older library version: the
    // chunks stage without content_hash
    val oldDf = spark.read.parquet(s"$dir/chunks")
      .drop("content_hash").localCheckpoint(true)
    oldDf.write.mode("overwrite").parquet(s"$dir/chunks")
    // restore the (overwrite-wiped) format stamp so THIS test exercises
    // the requires guard, not the version guard
    val stampP = new org.apache.hadoop.fs.Path(s"$dir/chunks/_graft_format")
    val stampFs = stampP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stampOut = stampFs.create(stampP, true)
    try stampOut.write(Lineage.stampFor(40).getBytes("UTF-8"))
    finally stampOut.close()
    // a naive resume would reuse the stale schema and crash downstream;
    // the requires guard recomputes it instead
    KGJob.run(spark, 40, dir, resume = true, partitions = 2)
    assert(spark.read.parquet(s"$dir/chunks").columns.contains("content_hash"))
  }

  test("resume recomputes stages stamped with a different semantic format version") {
    val dir = Files.createTempDirectory("kg_fmt").toString
    KGJob.run(spark, 40, dir, resume = false, partitions = 2)
    // simulate an outDir written by an older library version: identical
    // columns, different output semantics (e.g. the event-ordinal
    // recipe behind event_id) — only the stamp can tell them apart.
    // Written through the Hadoop FS API (raw java.nio would leave the
    // LocalFileSystem's .crc sidecar stale)
    val stale = new org.apache.hadoop.fs.Path(s"$dir/events/_graft_format")
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(stale, true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    def metricRows(stage: String): Long = spark.read
      .parquet(s"$dir/_metrics").filter(col("stage") === stage).count()
    val (evBefore, pgBefore) = (metricRows("events"), metricRows("pages"))
    KGJob.run(spark, 40, dir, resume = true, partitions = 2)
    assert(metricRows("events") > evBefore,
      "stale-format events stage was reused on resume")
    assert(metricRows("pages") == pgBefore, "unaffected stage was recomputed")
  }

  test("resume under different tuning flags recomputes only the cfg-dependent tail") {
    val dir = Files.createTempDirectory("kg_cfgfp").toString
    KGJob.run(spark, 40, dir, resume = false, partitions = 2)
    def metricRows(stage: String): Long = spark.read
      .parquet(s"$dir/_metrics").filter(col("stage") === stage).count()
    val (entBefore, namesBefore, chBefore) =
      (metricRows("entities"), metricRows("names"), metricRows("chunks"))
    // a resumed run with a retuned canonicalization flag must NOT serve
    // the old run's entities (the flags would be silently ignored), but
    // the extraction front is cfg-independent and must be reused
    KGJob.run(spark, 40, dir, resume = true, partitions = 2,
      cfg = graft.GraftConfig.default.copy(mergeThreshold = 0.999))
    assert(metricRows("entities") > entBefore,
      "resume served entities computed under different flags")
    // the names stage is cfg-stamped like the rest of the tail
    assert(metricRows("names") > namesBefore,
      "resume served names committed under different flags")
    assert(metricRows("chunks") == chBefore,
      "cfg-independent extraction stage was recomputed on a flag change")
    // and a second resume with the SAME retuned flags reuses everything
    val (entAfter, namesAfter) = (metricRows("entities"), metricRows("names"))
    KGJob.run(spark, 40, dir, resume = true, partitions = 2,
      cfg = graft.GraftConfig.default.copy(mergeThreshold = 0.999))
    assert(metricRows("entities") == entAfter,
      "matching-flag resume recomputed the canonicalization tail")
    assert(metricRows("names") == namesAfter,
      "matching-flag resume recomputed the names stage")
  }

  test("a merge-threshold retune resume equals a fresh run at the new threshold") {
    // the resume perfbench measures: default run, then a retune resume
    // that reuses the front and recomputes the cfg-stamped tail — it
    // must commit exactly what an uninterrupted run at 0.999 commits
    val retune = graft.GraftConfig.default.copy(mergeThreshold = 0.999)
    val resumed = Files.createTempDirectory("kg_retune").toString
    KGJob.run(spark, 40, resumed, resume = false, partitions = 2)
    KGJob.run(spark, 40, resumed, resume = true, partitions = 2, cfg = retune)
    val fresh = Files.createTempDirectory("kg_retune_fresh").toString
    KGJob.run(spark, 40, fresh, resume = false, partitions = 2, cfg = retune)
    for (t <- Seq("entities", "name_map", "edges", "participates", "event_similar")) {
      val a = sortedRows(spark.read.parquet(s"$resumed/$t"))
      assert(a.nonEmpty, s"table $t is empty")
      assert(a == sortedRows(spark.read.parquet(s"$fresh/$t")),
        s"table $t differs between the retune resume and a fresh run")
    }
  }

  test("output-neutral knobs leave the KG unchanged") {
    // salts, the broadcast cap and the CC local-solve gate pick a
    // physical strategy only: each must give the default rows
    // the base pins the driver CC path: the default reads
    // GRAFT_CC_LOCAL_MAX, and 0 there would compare the distributed path
    // with itself
    val d = graft.GraftConfig.default.copy(ccLocalSolveMax = 500000L)
    val base = KGPipeline.run(spark, 150, partitions = 4, cfg = d)
    val want = Seq(base.entities, base.nameMap, base.edges).map(sortedRows)
    for ((knob, cfg) <- Seq("salts = 1" -> d.copy(salts = 1),
        "broadcastNameMapMax = 0" -> d.copy(broadcastNameMapMax = 0L),
        "ccLocalSolveMax = 0" -> d.copy(ccLocalSolveMax = 0L))) {
      val r = KGPipeline.run(spark, 150, partitions = 4, cfg = cfg)
      val got = Seq(r.entities, r.nameMap, r.edges).map(sortedRows)
      for ((t, (g, w)) <- Seq("entities", "nameMap", "edges").zip(got.zip(want)))
        assert(g == w, s"$t differs under $knob")
    }
  }

  test("KGJob and runOnPages build the same graph from the same pages") {
    // one DAG behind both entry points: the staged job (chunks_distinct
    // front, every frame committed) and the in-memory run (per-partition
    // seen-set front, checkpointed name map) must produce the same
    // tables and the same sink. No chunk id at 150 pages carries one
    // content under two headers, so the Chunk-name tie in
    // GraphSink.nodes is not exercised here; it needs its own fix first.
    import spark.implicits._
    val dir = Files.createTempDirectory("kg_paths").toString
    KGJob.run(spark, 150, dir, resume = false, partitions = 4)
    val mem = KGPipeline.runOnPages(spark, graft.pages.PagesGenerator.pages(spark, 150, 4))
    def t(stage: String) = spark.read.parquet(s"$dir/$stage")
    for ((stage, df) <- Seq("mentions" -> mem.mentions, "triples" -> mem.triples,
        "events" -> mem.events, "entities" -> mem.entities, "name_map" -> mem.nameMap,
        "edges" -> mem.edges, "participates" -> mem.participates,
        "event_similar" -> mem.eventSimilar, "event_edges" -> mem.eventEdges)) {
      val staged = sortedRows(t(stage))
      assert(staged.nonEmpty, s"table $stage is empty")
      assert(staged == sortedRows(df), s"table $stage differs between the two paths")
    }
    val staged = KGPipeline.Result(t("pages").as[graft.pages.Page],
      t("chunks").as[KGPipeline.ChunkRow], t("mentions"), t("triples"), t("events"),
      t("entities"), t("name_map"), t("edges"), t("participates"),
      t("event_similar"), t("event_edges"), mem.eventRels)
    assert(sortedRows(graft.sink.GraphSink.nodes(staged)) ==
      sortedRows(graft.sink.GraphSink.nodes(mem)), "graph nodes differ")
    assert(sortedRows(graft.sink.GraphSink.edges(staged)) ==
      sortedRows(graft.sink.GraphSink.edges(mem)), "graph edges differ")
  }

  test("canonicalization is a fixpoint: re-canonicalizing representatives is a no-op") {
    // if two representatives were still >= 0.95-similar they would have
    // been one component in round 1, so round 2 must produce singleton
    // components only — the dedup-idempotence property (SURVEY.md §5.2)
    val r = KGPipeline.run(spark, 150, partitions = 4)
    val asMentions = r.entities.select(
      col("entity_name").as("entityName"),
      col("entity_type").as("entityType"),
      lit("").as("entityDescription"),
      col("canonical_id").as("chunkId"))
    val (round2, _) = Canonicalizer.canonicalize(Canonicalizer.names(asMentions), None)
    assert(round2.count() == r.entities.count(), "entity count changed on re-run")
    assert(round2.filter(col("n_merged_names") > 1).count() == 0,
      "representatives merged again on re-run")
  }

  test("extraction on planted fragments matches a local single-threaded oracle") {
    import spark.implicits._
    val r = KGPipeline.run(spark, 80, partitions = 4)
    val got = r.triples.select("chunk_id", "subj", "pred", "obj")
      .as[(String, String, String, String)].collect().toSet
    // local oracle: same pure functions, no Spark
    val ex = new graft.extract.TripleExtractor(
      graft.extract.KnowledgeBase.load().withAliases)
    val expected = (0L until 80L).flatMap { id =>
      val p = graft.pages.PagesGenerator.page(id)
      graft.chunk.MarkdownSplitter.split(p.text).filter(_.content.nonEmpty).flatMap { s =>
        val cid = "chunk_" + java.security.MessageDigest.getInstance("MD5")
          .digest(s.content.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        ex.extract(cid, p.url, s.content)._2.map(t => (cid, t.subj, t.pred, t.obj))
      }
    }.toSet
    assert(got == expected)
  }

  test("a resume over a fully committed outDir launches no Spark job") {
    val dir = Files.createTempDirectory("kg_zero_jobs").toString
    val fresh = KGJob.run(spark, 40, dir, resume = false, partitions = 2)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // the fresh run's events are delivered before the listener joins
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val resumed =
      try KGJob.run(spark, 40, dir, resume = true, partitions = 2)
      finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.get == 0, s"resume of a committed outDir launched ${jobs.get} jobs")
    assert(resumed == fresh)
  }

  /** Per stage KGJob.run reported: the count equals a Spark count of the
    * committed table; the stage's newest `_metrics` commit has one row
    * per part file, with distinct write tasks, summing to that count;
    * and the footer schema the stage reopens with reads the table back
    * exactly as schema inference does. */
  private def assertLineageExact(out: String, counts: Seq[(String, Long)]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val metrics = spark.read.parquet(s"$out/_metrics").persist()
    assert(counts.map(_._1) == Seq("pages", "chunks", "mentions", "triples",
      "events", "event_edges", "entities", "edges", "participates", "event_similar"))
    for ((stage, n) <- counts) {
      val p = s"$out/$stage"
      assert(spark.read.parquet(p).count() == n, s"$stage: reported count")
      val dir = new Path(p)
      val partFiles = dir.getFileSystem(conf).listStatus(dir)
        .map(_.getPath.getName).filter(_.startsWith("part-")).toSet
      val commits = metrics.filter(col("stage") === stage)
      val newest = commits.filter(col("committed_at") ===
        commits.agg(max("committed_at")).head().getTimestamp(0))
        .select("file", "rows", "partition_id").collect()
      assert(newest.map(r => new Path(r.getString(0)).getName).toSet == partFiles,
        s"$stage: lineage rows are not one per part file")
      assert(newest.length == partFiles.size, s"$stage: duplicate lineage rows")
      assert(newest.map(_.getInt(2)).distinct.length == newest.length,
        s"$stage: write task numbers repeat")
      assert(newest.map(_.getLong(1)).sum == n, s"$stage: lineage rows sum")
      val recorded = Lineage.footers(conf, p).get.schema
      assert(spark.read.schema(recorded).parquet(p).schema ==
        spark.read.parquet(p).schema, s"$stage: recorded schema")
    }
    metrics.unpersist()
  }

  test("lineage is exact: fresh run, partial resume, non-local scheme") {
    val fresh = Files.createTempDirectory("kg_exact").toString
    assertLineageExact(fresh, KGJob.run(spark, 60, fresh, resume = false, partitions = 3))
    // a kill after "triples": the resume reuses the front and recommits the tail
    Seq("entities", "name_map", "edges").foreach { s =>
      val dir = new java.io.File(s"$fresh/$s")
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
    assertLineageExact(fresh, KGJob.run(spark, 60, fresh, resume = true, partitions = 3))
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[MockFs].getName)
    val mock = s"mockfs://${Files.createTempDirectory("kg_exact_mockfs")}"
    assertLineageExact(mock, KGJob.run(spark, 60, mock, resume = false, partitions = 3))
  }

  test("resume recomputes a committed stage whose parquet footer is unreadable") {
    val dir = Files.createTempDirectory("kg_footer").toString
    KGJob.run(spark, 40, dir, resume = false, partitions = 2)
    def metricRows(stage: String): Long = spark.read
      .parquet(s"$dir/_metrics").filter(col("stage") === stage).count()
    val (evBefore, pgBefore) = (metricRows("events"), metricRows("pages"))
    // overwrite one events part file (through the Hadoop FS API, so its
    // checksum stays valid) with bytes that are not parquet
    val events = new Path(s"$dir/events")
    val fs = events.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(events).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    val out = fs.create(part, true)
    try out.write("not parquet".getBytes("UTF-8")) finally out.close()
    KGJob.run(spark, 40, dir, resume = true, partitions = 2)
    assert(metricRows("events") > evBefore, "stage with a corrupt footer was reused")
    assert(metricRows("pages") == pgBefore, "unaffected stage was recomputed")
    assert(spark.read.parquet(s"$dir/events").count() > 0)
  }

  test("a second pass over the same pages compiles (almost) no generated code") {
    // Spark compiles each distinct generated class once per JVM and
    // keeps it in an LRU cache of spark.sql.codegen.cache.maxEntries.
    // One pass needs ~250 classes: under the default 100 entries the
    // cache cycles and the second pass recompiled 255-267 of them. With
    // KGJob's 1000 it compiled 10-42 in five runs: AQE numbers its
    // codegen stages in the order they get planned, the number is part
    // of the class text, so a few stages come out under a new name.
    // The bound is about twice the worst of those.
    val pages = graft.pages.PagesGenerator.pages(spark, 150, 4)
    def pass(): Unit = graft.sink.GraphSink.write(KGPipeline.runOnPages(spark, pages),
      Files.createTempDirectory("kg_codegen").toString)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    pass()
    val c1 = compiles.getCount
    pass()
    val second = compiles.getCount - c1
    info(s"classes compiled: first pass ${c1 - c0}, second pass $second")
    assert(second <= 80, s"the second pass compiled $second generated classes")
  }

  test("the codegen cache size is the same on both launch paths") {
    // build.sbt passes it to every forked JVM (this one included) as a
    // system property; KGJob.session sets it on spark-submit runs
    assert(sys.props.get("spark.sql.codegen.cache.maxEntries") ==
      Some(KGJob.CodegenCacheMaxEntries.toString))
  }

  test("SPARK_GRAFT_CPUS: positive integers parse, blank and malformed fall back") {
    def parse(v: Option[String]): (Int, String) = {
      val err = new java.io.ByteArrayOutputStream()
      val n = Console.withErr(err)(KGJob.parseCpus(v))
      (n, err.toString("UTF-8"))
    }
    assert(parse(Some("4")) == ((4, "")))
    assert(parse(Some(" 1 ")) == ((1, "")))
    // unset and blank mean "no override": 32 cores, without a warning
    assert(parse(None) == ((32, "")))
    assert(parse(Some("  ")) == ((32, "")))
    // malformed or not positive: 32, with a warning that names the value
    for (bad <- Seq("abc", "0", "-2", "4.0", "99999999999")) {
      val (n, msg) = parse(Some(bad))
      assert(n == 32, bad)
      assert(msg.contains(s"'$bad'"), s"no warning naming '$bad': $msg")
    }
  }
}
