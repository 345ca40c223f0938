package graft.sink

import graft.SparkSpec
import graft.pipeline.KGPipeline
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

class GraphSinkSpec extends SparkSpec {

  private lazy val result = KGPipeline.run(spark, 150, partitions = 4)

  test("nodes carry the three labels; edges exactly the six types") {
    val labels = GraphSink.nodes(result).select("label").distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels == Set("Chunk", "Event", "Entity"))
    // SET equality, not contains(): losing a union branch in
    // GraphSink.edges (or emitting an unexpected extra type) must fail
    val types = GraphSink.edges(result).select("edge_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("CONTAINS", "MENTIONS", "PARTICIPATES_IN",
      "ENTITY_RELATION", "SIMILAR_TO", "EVENT_RELATION"), types.toString)
  }

  test("edge endpoints resolve to existing nodes (no dangling)") {
    val nodeIds = GraphSink.nodes(result).select(col("node_id")).distinct()
    val e = GraphSink.edges(result)
    val danglingSrc = e.join(nodeIds, e("src") === nodeIds("node_id"), "left_anti")
    val danglingDst = e.join(nodeIds, e("dst") === nodeIds("node_id"), "left_anti")
    assert(danglingSrc.count() == 0)
    assert(danglingDst.count() == 0)
  }

  test("write partitions by class; stats match; delete-by-class drops a partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    GraphSink.write(result, dir)
    val nodesBack = spark.read.parquet(s"$dir/nodes")
    val statRows = GraphSink.stats(result).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val entityCount = nodesBack.filter(col("label") === "Entity").count()
    assert(statRows(("node", "Entity")) == entityCount)
    assert(new java.io.File(s"$dir/nodes/label=Event").isDirectory)
    GraphSink.deleteClass(spark, dir, "Event")
    assert(!new java.io.File(s"$dir/nodes/label=Event").exists())
    // remaining classes untouched
    val after = spark.read.parquet(s"$dir/nodes")
      .select("label").distinct().collect().map(_.getString(0)).toSet
    assert(after == Set("Chunk", "Entity"))
  }

  test("deleteClass resolves the target PATH's filesystem (mockfs scheme)") {
    // same registry trick as the Lineage resume test: a mockfs://
    // scheme backed by RawLocalFileSystem — FileSystem.get(conf) (the
    // default FS) would not resolve it, path.getFileSystem must
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[graft.pipeline.MockFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_sink_mockfs")
    java.nio.file.Files.createDirectories(local.resolve("nodes/label=Event"))
    java.nio.file.Files.writeString(
      local.resolve("nodes/label=Event/part-0"), "x")
    GraphSink.deleteClass(spark, s"mockfs://$local", "Event")
    assert(!java.nio.file.Files.exists(local.resolve("nodes/label=Event")),
      "partition under the non-default scheme was not dropped")
  }

  // the integrity anti-joins are the only left-anti joins in the plan
  private def broadcastAntiJoins(p: SparkPlan): Int = p.collect {
    case a: AdaptiveSparkPlanExec => broadcastAntiJoins(a.executedPlan)
    case s: QueryStageExec => broadcastAntiJoins(s.plan)
    case j: BroadcastHashJoinExec if j.joinType == LeftAnti => 1
  }.sum

  /** Runs `f` with Spark's own size-based broadcast switched off, so
    * that only the gate can broadcast an id set. */
  private def gateOnly[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  // the callers' row counts of the three node frames
  private lazy val nodeRows = (Some(result.entities.count()),
    Some(result.events.count()), Some(result.chunks.count()))

  private def integrity(cfg: graft.GraftConfig, rows: (Option[Long],
      Option[Long], Option[Long])) = GraphSink.integrity(result, cfg, rows._1, rows._2, rows._3)

  test("integrity gates its id-set broadcasts on the run's config") {
    gateOnly {
      val gated = integrity(graft.GraftConfig.default, nodeRows)
      val shuffled = integrity(
        graft.GraftConfig.default.copy(broadcastNameMapMax = 0L), nodeRows)
      val rows = gated.collect().map(_.toString).sorted.toSeq
      assert(rows.size == 11)
      assert(shuffled.collect().map(_.toString).sorted.toSeq == rows)
      assert(broadcastAntiJoins(gated.queryExecution.executedPlan) > 0,
        "the default cap broadcast no id set — the plan check is vacuous")
      assert(broadcastAntiJoins(shuffled.queryExecution.executedPlan) == 0,
        shuffled.queryExecution.executedPlan.toString)
    }
  }

  test("integrity adds no broadcast hint for an unknown count") {
    gateOnly {
      val unknown = integrity(graft.GraftConfig.default, (None, None, None))
      assert(unknown.collect().map(_.toString).sorted.toSeq ==
        integrity(graft.GraftConfig.default, nodeRows).collect().map(_.toString).sorted.toSeq)
      assert(broadcastAntiJoins(unknown.queryExecution.executedPlan) == 0,
        unknown.queryExecution.executedPlan.toString)
    }
  }

  test("stats counts each class without projecting a payload column") {
    // counting the node/edge class frames must prune the texts they
    // carry: no projection or aggregate outputs a payload column (a
    // filter passes its relation's columns through; only projections
    // choose them)
    val payload = Set("content", "descriptions", "header_name")
    def payloadOutputs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case p @ (_: Project | _: Aggregate) => p.output.map(_.name).filter(payload)
      }.flatten
    assert(payloadOutputs(GraphSink.nodes(result)).nonEmpty,
      "the node table projects no payload — the check is vacuous")
    val stats = GraphSink.stats(result)
    assert(payloadOutputs(stats).isEmpty, stats.queryExecution.optimizedPlan.toString)
  }
}
