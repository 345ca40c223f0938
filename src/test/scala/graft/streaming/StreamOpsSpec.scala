package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamOpsSpec extends SparkSpec {

  test("streaming extract: exactly-once per distinct chunk across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[graft.pages.Page]
    val q = StreamOps.streamingExtract(input.toDS())
      .writeStream.format("memory").queryName("sx")
      .outputMode(OutputMode.Append).start()
    try {
      val batch1 = (0L until 5L).map(graft.pages.PagesGenerator.page)
      input.addData(batch1: _*)
      q.processAllAvailable()
      val n1 = spark.table("sx").count()
      // batch 2 re-sends pages 0-2 (re-crawl) plus two new pages: only
      // the NEW distinct chunk contents may emit extraction rows
      val batch2 = (0L until 3L).map(graft.pages.PagesGenerator.page) ++
        (5L until 7L).map(graft.pages.PagesGenerator.page)
      input.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("sx")
      // expected: one row per distinct chunk content over pages 0-6
      val expected = (0L until 7L).flatMap { id =>
        val p = graft.pages.PagesGenerator.page(id)
        graft.chunk.MarkdownSplitter.split(p.text)
          .filter(_.content.nonEmpty)
          .map(s => graft.pipeline.KGPipeline.md5Hex(s.content))
      }.toSet
      assert(got.count() == expected.size,
        s"stream emitted ${got.count()} rows for ${expected.size} distinct chunks")
      assert(got.count() > n1, "second batch added no new chunks — vacuous")
      // extraction payload matches the batch extractor for a sample
      // chunk (output schema == the batch extraction STAGING table —
      // compact spec-index arrays — so the batch consolidation can
      // consume the appended stream directly and expand it)
      val ex = new graft.extract.TripleExtractor(
        graft.extract.KnowledgeBase.load().withAliases)
      val sample = got.filter(size(col("triples")) > 0)
        .select("chunk_id", "content_hash", "triples").head()
      val chunkContent = (0L until 7L).iterator.flatMap { id =>
        val p = graft.pages.PagesGenerator.page(id)
        graft.chunk.MarkdownSplitter.split(p.text).map(_.content)
      }.find(c => graft.pipeline.KGPipeline.md5Hex(c) == sample.getString(1)).get
      val batchTriples = ex.extractAll(sample.getString(0), "u", chunkContent)
        ._2.map(t => (t.subj, t.pred, t.obj, t.description))
      val streamTriples = sample.getSeq[org.apache.spark.sql.Row](2)
        .map(r => ex.expandTriple((r.getInt(0), r.getString(1), r.getString(2))))
      assert(streamTriples.toVector == batchTriples)
    } finally q.stop()
  }

  test("stream-append + batch consolidation equals the pure-batch pipeline") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // stream pages (with a re-crawled overlap) into a parquet staging
    // table, run the SHARED batch consolidation over the staged rows,
    // and require the result — through canonicalization and the edge
    // rewrite — to equal the pure-batch pipeline over the same pages
    val input = MemoryStream[graft.pages.Page]
    val staging = java.nio.file.Files.createTempDirectory("sx_staging").toString
    val q = StreamOps.streamingExtract(input.toDS())
      .writeStream.format("parquet")
      .option("path", s"$staging/tbl")
      .option("checkpointLocation", s"$staging/ckpt")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((0L until 40L).map(graft.pages.PagesGenerator.page): _*)
      q.processAllAvailable()
      input.addData((20L until 60L).map(graft.pages.PagesGenerator.page): _*)
      q.processAllAvailable()
    } finally q.stop()

    val cons = graft.pipeline.KGPipeline.consolidate(
      spark.read.parquet(s"$staging/tbl"))
    val batch = graft.pipeline.KGPipeline.runOnPages(spark,
      graft.pages.PagesGenerator.pages(spark, 60L, 4))

    def setOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(setOf(cons.mentions) == setOf(batch.mentions), "mentions diverge")
    assert(setOf(cons.triples) == setOf(batch.triples), "triples diverge")
    assert(setOf(cons.events) == setOf(batch.events), "events diverge")
    assert(setOf(graft.pipeline.KGPipeline.eventEdges(cons.events, cons.eventRels))
      == setOf(batch.eventEdges), "event edges diverge")

    // canonicalization + endpoint rewrite over the consolidated stream
    val (ents, nm0) = graft.canon.Canonicalizer.canonicalize(graft.canon.Canonicalizer.names(
      cons.mentions.withColumnRenamed("chunk_id", "chunkId")), None)
    val cols = Seq("canonical_id", "entity_name", "entity_type",
      "n_mentions", "n_merged_names")
    assert(setOf(ents.select(cols.head, cols.tail: _*))
      == setOf(batch.entities.select(cols.head, cols.tail: _*)),
      "canonical entities diverge")
    val nm = nm0.localCheckpoint(true)
    val edges = graft.canon.Canonicalizer.rewriteTriples(
      cons.triples.withColumnRenamed("chunk_id", "chunkId"), nm, Some(nm.count()))
    val eCols = Seq("subj_id", "pred", "obj_id", "n_sources")
    assert(setOf(edges.select(eCols.head, eCols.tail: _*))
      == setOf(batch.edges.select(eCols.head, eCols.tail: _*)),
      "canonical edges diverge")
  }
}
