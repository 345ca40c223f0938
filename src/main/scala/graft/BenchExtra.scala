package graft

import org.apache.spark.sql.SparkSession

/** Extra benchmarks / diagnostics for the optimization rounds — NOT part
  * of the driver contract (Bench.scala is the frozen harness; this main
  * exists so per-query isolation, explain dumps and repeat timings can
  * be measured without touching it — guide §1.4).
  *
  * Usage (sbt "runMain graft.BenchExtra <mode> [args...]"):
  *  - time <name>... : time each named query's .count() (Bench's action)
  *                     in declaration order, twice (warm + timed)
  *  - explain <outDir> <name>... : write .explain("formatted") of each
  *                     named query to <outDir>/<name>.txt
  *  - all            : time every query once, sorted by cost
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object BenchExtra {

  /** Same session configuration as Bench.session (kept in sync by eye;
    * the frozen Bench cannot export it). */
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", math.max(cpus * 4, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.pipeline.KGJob.parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = session(cpus)
    if (sys.env.contains("GRAFT_EXTRA_JOBS")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val sites =
            new java.util.concurrent.ConcurrentHashMap[Int, String]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            starts.put(j.jobId, System.nanoTime())
            sites.put(j.jobId,
              Option(j.properties.getProperty("spark.job.description"))
                .orElse(Option(j.properties.getProperty("callSite.short")))
                .getOrElse("?"))
            ()
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.getOrDefault(j.jobId, 0L)
            if (s > 0) System.err.println(
              f"[extrajob] job ${j.jobId}%3d ${(System.nanoTime() - s) / 1e9}%6.2f s  ${sites.get(j.jobId)}")
          }
        })
    }
    def time(n: String): Double = {
      spark.sparkContext.setJobDescription(s"benchextra: $n")
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    args.toList match {
      case "time" :: names =>
        names.foreach { n =>
          val t1 = time(n)
          val t2 = time(n)
          println(f"[extra] $n%-28s first=$t1%7.2f s  second=$t2%7.2f s")
        }
      case "explain" :: outDir :: names =>
        new java.io.File(outDir).mkdirs()
        // check queries collect driver-side (zero anchor), so the
        // query-map frame explains as LocalTableScan — dump the inner
        // distributed plan for those instead
        val inner: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
          "kg_integrity" -> ((s, d) => SparkEntry.kgIntegrity(s, d)),
          "kg_alias_closure" -> ((s, d) =>
            graft.sink.GraphSink.aliasClosure(SparkEntry.kgResult(s, d))),
          "kg_evidence" -> ((s, d) => SparkEntry.kgEvidenceChecks(s, d)),
          "kg_identity" -> ((s, d) => SparkEntry.kgIdentityChecks(s, d)),
          // public entry collects its <= k rows; the executed scoring
          // plan is the factored-out lazy form
          "bm25_topk" -> ((s, d) => graft.ops.BM25Ops.topKPlanForTest(s, d)))
        names.foreach { n =>
          val df = inner.getOrElse(n, SparkEntry.queries(n))(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$n.txt"),
            plan.getBytes("UTF-8"))
          println(s"[extra] wrote $outDir/$n.txt")
        }
      case "all" :: _ =>
        val ts = SparkEntry.queries.keys.toSeq.sorted.map(n => n -> time(n))
        ts.sortBy(-_._2).foreach { case (n, t) =>
          println(f"[extra] $n%-28s $t%7.2f s")
        }
        println(f"[extra] total ${ts.map(_._2).sum}%.1f s")
      case _ =>
        System.err.println("usage: BenchExtra time|explain|all ...")
    }
    spark.stop()
  }
}
