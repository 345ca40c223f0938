package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Physical-plan audits: the scale-critical plan properties the design
  * relies on (SURVEY.md §4.2-4.3), asserted so a refactor that silently
  * loses them fails CI rather than a 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Collect file scans through AQE wrappers: `AdaptiveSparkPlanExec` and
    * `QueryStageExec` are leaves to `collect`, so descend explicitly. */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    }.flatten

  private def allExprs(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allExprs(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allExprs(s.plan)
      case op => op.expressions.map(_.toString)
    }.flatten

  test("global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan(RelationalOps.topK(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("star join broadcasts the dimension tables (no fact-side shuffle join)") {
    val p = plan(RelationalOps.joinAgg(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("column pruning reaches the parquet scan (2-column projection reads 2 columns)") {
    val p = plan(graft.SparkEntry.textStats(spark, sf0001))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("query-vector predicate pushes down to the embeddings scan") {
    val p = plan(VectorOps.annTopK(spark, sf0001))
    assert(p.contains("LessThan(vec_id,10)"), p)
  }

  test("anti join plans as a join, not a filter-after-materialize") {
    val p = plan(RelationalOps.antiJoin(spark, sf0001))
    assert(p.contains("LeftAnti"), p)
  }

  test("triple endpoint rewrite broadcasts the name map (no triple-stream shuffle join)") {
    import spark.implicits._
    val triples = Seq(("c1", "a", "属于关系", "b", ""), ("c2", "b", "属于关系", "a", ""))
      .toDF("chunkId", "subj", "pred", "obj", "description")
    val nameMap = Seq(("a", 1L), ("b", 2L)).toDF("entity_name", "canonical_id")
      .localCheckpoint(true)
    // Spark's own size-based broadcast would pick this tiny map whatever
    // the gate says; switched off, only the gate's hint can broadcast it
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan(graft.canon.Canonicalizer.rewriteTriples(triples, nameMap, Some(2L)))
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally spark.conf.set(key, prev)
  }

  /** Job descriptions of the Spark jobs started while `f` runs. */
  private def jobsDuring(f: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("<unlabelled>"))
        ()
      }
    }
    // earlier jobs' events are delivered before the listener joins
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try f finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("building the gated frames launches no hidden job") {
    import graft.canon.Canonicalizer
    val r = graft.pipeline.KGPipeline.run(spark, 60, partitions = 2)
    val (nameMapRows, entityRows, eventRows, chunkRows) = (r.nameMap.count(),
      r.entities.count(), r.events.count(), r.chunks.count())
    // over a checkpointed names frame, canonicalize's only jobs are the
    // connected components' edge checkpoint (run under G9, whose band
    // join it executes) and the collect of that checkpoint for the
    // driver union-find. The local solve cap is pinned:
    // GRAFT_CC_LOCAL_MAX=0 would take the distributed path, whose round
    // labels this set does not list
    val cfg = graft.GraftConfig.default.copy(ccLocalSolveMax = 500000L)
    val mentions = r.mentions.withColumnRenamed("chunk_id", "chunkId")
    val (names, nameRows) =
      graft.pipeline.Jobs.countedCheckpoint(Canonicalizer.names(mentions, cfg))
    val canon = jobsDuring(Canonicalizer.canonicalize(names, Some(nameRows), cfg))
    assert(canon.distinct.toSet == Set("canon: LSH band join + cosine verify (G9)",
      "cc: edge collect for the driver union-find"), canon.mkString("; "))
    val built = Seq(
      "names" -> jobsDuring(Canonicalizer.names(mentions, cfg)),
      "eventKnn" -> jobsDuring(Canonicalizer.eventKnn(r.events, 10, 0.85)),
      "rewriteTriples" -> jobsDuring(Canonicalizer.rewriteTriples(
        r.triples.withColumnRenamed("chunk_id", "chunkId"), r.nameMap, Some(nameMapRows))),
      "integrity" -> jobsDuring(graft.sink.GraphSink.integrity(r, graft.GraftConfig.default,
        Some(entityRows), Some(eventRows), Some(chunkRows))),
      "jaccardPairs" -> jobsDuring(graft.dedup.DedupOps.jaccardPairs(spark, sf0001)))
    built.foreach { case (name, jobs) =>
      // jaccardPairs opens its input itself: the parquet read's footer
      // (schema inference) job is the read's, not the plan's
      val allowed = if (name == "jaccardPairs")
        jobsDuring(graft.Tables.documents(spark, sf0001)).size else 0
      assert(jobs.size == allowed, s"$name launched ${jobs.size} jobs: ${jobs.mkString("; ")}")
    }
  }

  test("the event KNN reads its events' plan, not a checkpoint of it") {
    import spark.implicits._
    val events = Seq(("e1", "发动机故障"), ("e2", "发动机故障了"), ("e3", "更换轮胎"))
      .toDF("event_id", "content")
    val p = graft.canon.Canonicalizer.eventKnn(events, 10, 0.85).queryExecution.optimizedPlan
    val rddScans = p.collect { case l: org.apache.spark.sql.execution.LogicalRDD => l }
    assert(rddScans.isEmpty, p.toString)
  }

  test("zh BM25 scoring joins stay broadcast on the query/idf side") {
    // the public entries collect their <= k rows (r6: the lazy frame
    // re-ran the corpus tokenization uncached per consumer branch), so
    // the pins target the factored-out lazy scoring plan they execute
    val p = plan(BM25Ops.topKZhPlanForTest(spark, nPages = 50))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("BM25 broadcasts query-term-restricted idf, not the full vocabulary") {
    // every broadcast exchange whose output carries the idf column must
    // have the query-term LocalTableScan in its subtree: the broadcast
    // side is then <= |query| rows, never the corpus-vocabulary aggregate
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = BM25Ops.topKPlanForTest(spark, sf0001)
    val builds = df.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec =>
        j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }
    }
    val idfSides = builds.filter(_.output.exists(_.name == "idf"))
    assert(idfSides.nonEmpty, df.queryExecution.sparkPlan.toString)
    idfSides.foreach { b =>
      assert(b.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
        s"idf broadcast side is not query-term-restricted:\n$b")
    }
  }

  test("durable LSH index probe: partition-pruned scan, no UDF, same top-k") {
    // the cross-job form of the bucket index: written once partitioned
    // by bucket, a probe's `bucket IN (<= 16 keys)` must plan as a
    // PARTITION filter (<= 16 of ~4096 directories read) with no UDF
    // and no corpus scan, and return exactly the corpus-scan top-k
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    try {
      VectorOps.writeLshBucketIndex(spark, sf0001, dir)
      val qv = graft.Tables.embeddings(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
        .collect().head.getSeq[Float](1).toArray
      val viaIdx = VectorOps.annTopKLshFromIndex(spark,
        spark.read.parquet(dir), Seq(0L -> qv), 10)
      val viaScan = VectorOps.annTopKLsh(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("query_id") === 0L)
      val got = viaIdx.collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == viaScan.collect().map(_.toString).sorted.toSeq)
      val scans = fileScans(viaIdx.queryExecution.executedPlan)
      assert(scans.nonEmpty, plan(viaIdx))
      scans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"probe scan has no partition filter:\n$s")
        assert(s.partitionFilters.exists(_.toString.contains("bucket")),
          s.partitionFilters.mkString(", "))
      }
      // metrics filled by the collect above: the scan must have touched
      // at most one partition per LSH table
      val touched = scans.flatMap(_.metrics.get("numPartitions")).map(_.value)
      assert(touched.nonEmpty && touched.sum <= graft.lsh.HyperplaneLSH.Tables,
        s"partitions read: $touched")
      val exprs = allExprs(viaIdx.queryExecution.executedPlan)
      assert(!exprs.exists(_.contains("UDF")), exprs.mkString("\n"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("durable IVF index probe: partition-pruned list scan, no UDF, agrees with in-memory path") {
    // symmetric with the durable LSH index: assignments written once
    // partitioned by list_id; a probe's `list_id IN (nprobe ids)` must
    // plan as a partition filter and return the same neighbors as the
    // in-memory ivfTopK (same deterministic centroids by construction)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    try {
      IvfIndex.writeIvfIndex(spark, sf0001, dir)
      val qv = graft.Tables.embeddings(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
        .collect().head.getSeq[Float](1).toArray
      val viaIdx = IvfIndex.ivfTopKFromIndex(spark, dir, Seq(0L -> qv), 10)
      val got = viaIdx.collect().map(_.toString).sorted.toSeq
      val mem = IvfIndex.ivfTopK(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("query_id") === 0L)
        .collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == mem, s"durable probe $got != in-memory $mem")
      val scans = fileScans(viaIdx.queryExecution.executedPlan)
      assert(scans.nonEmpty, plan(viaIdx))
      scans.foreach { s =>
        assert(s.partitionFilters.exists(_.toString.contains("list_id")),
          s"probe scan not partition-pruned on list_id:\n$s")
      }
      assert(!allExprs(viaIdx.queryExecution.executedPlan)
        .exists(_.contains("UDF")), plan(viaIdx))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dense retrieval scans the precomputed embeddings table with no corpus UDF") {
    val df = new graft.retrieval.DenseRetriever()
      .retrieve(spark, sf0001, "spark join vector", 50)
    val p = plan(df)
    assert(p.contains("embeddings.parquet"), p)
    assert(!p.contains("UDF"), p) // embedder runs only on the query string
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("durable multi-query LSH probe equals the in-memory annTopKLsh, partition-pruned") {
    // the driver-graded ann_topk_lsh_durable query: one partition-pruned
    // scan serves all 10 queries, rows identical to the in-memory path
    // (same shared-table-key candidate rule, same exact-cosine rank)
    val durable = VectorOps.annTopKLshDurable(spark, sf0001)
    val mem = VectorOps.annTopKLsh(spark, sf0001)
    assert(durable.collect().map(_.toString).sorted.toSeq ==
      mem.collect().map(_.toString).sorted.toSeq)
    val scans = fileScans(durable.queryExecution.executedPlan)
      .filter(_.toString.contains("graft_lsh_idx"))
    assert(scans.nonEmpty, plan(durable))
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.toString.contains("bucket")),
        s"durable probe scan not partition-pruned on bucket:\n$s")
    }
  }

  test("durable multi-query IVF probe equals the in-memory ivfTopK, partition-pruned") {
    val durable = IvfIndex.ivfTopKDurable(spark, sf0001)
    val mem = IvfIndex.ivfTopK(spark, sf0001)
    assert(durable.collect().map(_.toString).sorted.toSeq ==
      mem.collect().map(_.toString).sorted.toSeq)
    val scans = fileScans(durable.queryExecution.executedPlan)
      .filter(_.toString.contains("graft_ivf_idx"))
    assert(scans.nonEmpty, plan(durable))
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.toString.contains("list_id")),
        s"durable probe scan not partition-pruned on list_id:\n$s")
    }
  }
}
