package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftConfig
import graft.pages.Page
import graft.pipeline.{KGJob, KGPipeline, Lineage}
import graft.sink.GraphSink
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Seeded benchmark of the KG-construction job.
  *
  *   perfbench.Main --workload crawl|staged_resume --seed N
  *     --seconds S --trace 0|1 --work DIR [--digests FILE]
  *
  * Prints `PERFBENCH_DETAIL {...}` and, last, `PERFBENCH_RESULT {...}`;
  * `run.py` relays the result as the last line of its own output. */
object Settings {

  /** `bench: <label>` descriptions the benchmark sets → layer. */
  val LabelLayer: Map[String, String] = Map(
    "entities" -> "canon.merge",
    "edges" -> "canon.rewrite",
    "participates" -> "canon.events",
    "eventSimilar" -> "canon.events",
    "eventEdges" -> "canon.events",
    "sink" -> "sink")

  /** `KGJob`'s jobs carry no label. A job that commits one of its stages
    * is attributed by the stage its write goes to (see [[Trace]]). */
  val StageLayer: Map[String, String] = Map(
    "chunks" -> "pipeline",
    "chunks_distinct" -> "pipeline",
    "mentions" -> "pipeline",
    "triples" -> "pipeline",
    "events" -> "pipeline",
    "event_edges" -> "canon.events",
    "entities" -> "canon.merge",
    "name_map" -> "canon.merge",
    "edges" -> "canon.rewrite",
    "participates" -> "canon.events",
    "event_similar" -> "canon.events",
    "_metrics" -> "lineage")

  val Workloads: Seq[String] = Seq("crawl", "staged_resume")
  /** Pages of every workload's input, sized so a whole run stays within
    * its time budget on a 4-core host. */
  val Pages = 2000L
  /** Pages of the warm-up input (same shape, its own seed). */
  val WarmPages = 500L
  val WarmSeed = 987654321L
  /** The one retune flag: what a user changes between a run and its resume. */
  val RetuneFlag = "--merge-threshold=0.97"
}

object Main {
  import Settings._

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, digests: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.get("digests"))
  }

  private val cpus = Runtime.getRuntime.availableProcessors()
  private def now(): Double = System.nanoTime() / 1e9
  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The production entry's session settings (`KGJob.main`). */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def label[A](spark: SparkSession, l: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"bench: $l")
    try f finally sc.setJobDescription(prev)
  }

  private def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally s.close()
  }

  /** Largest heap in use right after a collection, while armed. */
  object Heap {
    @volatile var armed = false
    @volatile var peakBytes = 0L
    def install(): Unit = {
      import javax.management.{NotificationEmitter, NotificationListener, Notification}
      import javax.management.openmbean.CompositeData
      import com.sun.management.GarbageCollectionNotificationInfo
      import scala.jdk.CollectionConverters._
      val l = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            if (used > peakBytes) peakBytes = used
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(l, null, null)
        case _ =>
      }
    }
  }

  /** One timed operation's outcome. */
  final case class Op(wall: Double, cpu: Double, ok: Boolean)

  final class Run(val a: Args) {
    val work: String = a.work
    val n: Long = Pages
    val failures = mutable.ArrayBuffer.empty[String]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val defaults = mutable.ArrayBuffer.empty[Op]
    val retunes = mutable.ArrayBuffer.empty[Op]
    var triples = 0L
    var checkS = 0.0
    val digests = mutable.LinkedHashMap.empty[String, String]
    val heapPeaks = mutable.ArrayBuffer.empty[Double]
    val retuneCfg: GraftConfig = GraftConfig.fromArgs(Seq(RetuneFlag))._1

    def fail(where: String, msg: String): Unit = failures += s"$where: $msg"

    /** Time `f`, arming the heap probe (and the trace when `traced`);
      * returns (wall, cpu). */
    def timed(traced: Boolean)(f: => Unit): (Double, Double) = {
      System.gc()
      Heap.peakBytes = 0L
      Heap.armed = true
      val (c0, t0) = (cpuSeconds(), now())
      try { if (traced) Trace.window(f) else f } finally Heap.armed = false
      val r = (now() - t0, cpuSeconds() - c0)
      heapPeaks += Heap.peakBytes / 1048576.0
      r
    }

    def recordDigest(kind: String, d: String): Unit = digests.get(kind) match {
      case Some(prev) if prev != d => fail(kind, s"digest differs between passes: $prev vs $d")
      case _ => digests(kind) = d
    }

    // ---------------------------------------------------------------- in-memory path

    /** `runOnPages(fromHtml = true, stageDir)` then `GraphSink.write`;
      * with `traced`, the lazy frames are forced one by one first, each
      * under its own label. */
    def inMemory(spark: SparkSession, pagesDir: String, dir: String,
        cfg: GraftConfig, traced: Boolean): KGPipeline.Result = {
      import spark.implicits._
      val r = label(spark, "runOnPages") {
        val pages = spark.read.parquet(pagesDir).as[Page]
        KGPipeline.runOnPages(spark, pages, fromHtml = true,
          stageDir = Some(s"$dir/stage"), cfg = cfg)
      }
      if (traced) Seq("entities" -> r.entities, "edges" -> r.edges,
          "participates" -> r.participates, "eventSimilar" -> r.eventSimilar,
          "eventEdges" -> r.eventEdges).foreach { case (l, df) =>
        label(spark, l)(df.write.format("noop").mode("overwrite").save())
      }
      label(spark, "sink")(GraphSink.write(r, s"$dir/graph"))
      r
    }

    def check(kind: String, nodes: DataFrame, edges: DataFrame, mentions: => DataFrame,
        nameMap: => DataFrame): Option[Check.Outcome] =
      if (digests.contains(kind)) { recordDigest(kind, Check.digest(nodes, edges)); None }
      else {
        val o = Check(nodes, edges, mentions, nameMap)
        o.failures.foreach(fail(kind, _))
        recordDigest(kind, o.digest)
        Some(o)
      }

    /** Run `f` as one timed operation of `ops`; a throw or a failed
      * output check counts the operation as failed. */
    def operation(kind: String, ops: mutable.ArrayBuffer[Op], traced: Boolean)
        (f: => Unit)(after: => Unit): Unit = {
      val op = try {
        val (w, c) = timed(traced)(f)
        val before = failures.size
        val t0 = now()
        after
        checkS += now() - t0
        Op(w, c, failures.size == before)
      } catch { case e: Exception => fail(kind, e.toString); Op(0, 0, ok = false) }
      ops += op
    }

    /** One in-memory pass: default config, or the retune flag. */
    def inMemoryPass(spark: SparkSession, pagesDir: String, kind: String,
        traced: Boolean): Unit = {
      val dir = s"$work/pass${defaults.size + retunes.size}"
      val (cfg, ops) = if (kind == "default") (GraftConfig.default, defaults) else (retuneCfg, retunes)
      var r: KGPipeline.Result = null
      operation(kind, ops, traced) { r = inMemory(spark, pagesDir, dir, cfg, traced) } {
        val first = !digests.contains(kind)
        val o = check(kind, spark.read.parquet(s"$dir/graph/nodes"),
          spark.read.parquet(s"$dir/graph/edges"), r.mentions, r.nameMap)
        if (first && kind == "default") {
          triples = r.triples.count()
          o.foreach(recordWork(r, _))
        }
      }
      rmrf(dir)
    }

    def recordWork(r: KGPipeline.Result, o: Check.Outcome): Unit = {
      val names = r.nameMap.select("name_key").distinct().count()
      val entities = o.nodeRows.getOrElse("Entity", 0L)
      detail("work") = mutable.LinkedHashMap[String, Any](
        "pages" -> n, "triples" -> triples, "distinct_names" -> names,
        "entities" -> entities) ++
        Check.NodeLabels.map(l => s"nodes.$l" -> o.nodeRows.getOrElse(l, 0L)) ++
        Check.EdgeEnds.map(e => s"edges.${e._1}" -> o.edgeRows.getOrElse(e._1, 0L))
    }

    // ---------------------------------------------------------------- staged path

    /** Commit generated pages as the job's `pages` stage (with the stamp
      * a `KGJob` run of `pages` pages expects), as a template to copy;
      * returns the stage's table path. */
    def commitPagesStage(spark: SparkSession, seed: Long, pages: Long,
        outDir: String): String = {
      new Lineage(spark, outDir, s"run_$pages", resume = false,
        jobFingerprint = pages.toString).stage("pages") {
        Inputs.pages(spark, seed, pages, cpus * 2).toDF()
      }
      s"$outDir/pages"
    }

    /** Stages the resume left as they were (committed once). */
    def reusedStages(spark: SparkSession, outDir: String): Seq[String] =
      new Lineage(spark, outDir, "check", resume = true).metrics()
        .groupBy("stage").agg(countDistinct("committed_at").as("commits"))
        .filter(col("commits") === 1).select("stage")
        .collect().map(_.getString(0)).toSeq.sorted

    val FrontStages = Seq("chunks", "chunks_distinct", "event_edges", "events",
      "mentions", "pages", "triples")

    def stagedResult(spark: SparkSession, outDir: String): KGPipeline.Result = {
      import spark.implicits._
      def t(s: String) = spark.read.parquet(s"$outDir/$s")
      KGPipeline.Result(t("pages").as[Page], t("chunks").as[KGPipeline.ChunkRow],
        t("mentions"), t("triples"), t("events"), t("entities"), t("name_map"),
        t("edges"), t("participates"), t("event_similar"), t("event_edges"),
        spark.emptyDataFrame)
    }

    def kgJob(outDir: String, pages: Long, extra: String*): Unit =
      KGJob.main((Seq(pages.toString, outDir, "resume") ++ extra).toArray)

    /** The production entry's own session carries the listener only
      * while it runs, through `spark.extraListeners`. */
    def tracedJob(traced: Boolean)(f: => Unit): Unit =
      if (!traced) f
      else {
        System.setProperty("spark.extraListeners", classOf[LayerListener].getName)
        try f finally System.clearProperty("spark.extraListeners")
      }

    /** A fresh `KGJob` run over the committed pages stage, then the
      * retune resume over a copy of its output, then both checked. The
      * copy keeps the fresh run's tail stages for the check. */
    def stagedPair(template: String, traced: Boolean, resume: Boolean = true): Unit = {
      val k = defaults.size
      val (fresh, resumed) = (s"$work/pass$k-fresh", s"$work/pass$k-resume")
      copyTree(template, fresh)
      val checks = mutable.ArrayBuffer.empty[SparkSession => Unit]
      operation("default", defaults, traced)(tracedJob(traced)(kgJob(fresh, n))) {
        checks += { spark =>
          val r = stagedResult(spark, fresh)
          val o = check("default", GraphSink.nodes(r), GraphSink.edges(r), r.mentions, r.nameMap)
          if (o.isDefined) {
            triples = r.triples.count()
            o.foreach(recordWork(r, _))
          }
        }
      }
      if (resume) {
        copyTree(fresh, resumed)
        operation("retune", retunes, traced)(
          tracedJob(traced)(kgJob(resumed, n, RetuneFlag))) {
          checks += { spark =>
            val r = stagedResult(spark, resumed)
            check("retune", GraphSink.nodes(r), GraphSink.edges(r), r.mentions, r.nameMap)
            val reused = reusedStages(spark, resumed)
            if (reused != FrontStages) fail("retune",
              s"resume reused ${reused.mkString(",")}; expected ${FrontStages.mkString(",")}")
            detail("reused_stages") = reused.size
          }
        }
      }
      // the checks share one session, after the timed runs
      val before = failures.size
      val t0 = now()
      val spark = session()
      try checks.foreach(c => try c(spark) catch { case e: Exception => fail("check", e.toString) })
      finally spark.stop()
      checkS += now() - t0
      if (failures.size > before) {
        // a failed check fails the operations it checked
        defaults(k) = defaults(k).copy(ok = false)
        if (resume) retunes(retunes.size - 1) = retunes.last.copy(ok = false)
      }
      rmrf(fresh); rmrf(resumed)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a)
    val staged = a.workload == "staged_resume"
    Heap.install()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    // ---- set-up: JVM start → session → warm-up (input generation excluded)
    var spark = session()
    val sessionReady = System.currentTimeMillis() / 1000.0
    val tGen = now()
    val parts = cpus * 2
    val template = s"${a.work}/template"
    // the staged job's input is its committed pages stage
    val (warmDir, pagesDir) =
      if (staged) ("", run.commitPagesStage(spark, a.seed, run.n, template))
      else (Inputs.write(spark, WarmSeed, WarmPages, parts, s"${a.work}/warm-pages"),
        Inputs.write(spark, a.seed, run.n, parts, s"${a.work}/pages"))
    val genS = now() - tGen
    val tWarm = now()
    // the production entry is timed from a cold start, as spark-submit
    // runs it: its session is its own, so the bench's session goes first
    if (staged) spark.stop()
    else {
      run.inMemory(spark, warmDir, s"${a.work}/warm-run", GraftConfig.default, traced = false)
      rmrf(s"${a.work}/warm-run")
    }
    val warmS = now() - tWarm
    val setupS = (sessionReady - jvmStart) + warmS
    run.detail("setup") = Map("jvm_to_session_s" -> (sessionReady - jvmStart),
      "warmup_s" -> warmS, "input_generation_s" -> genS)

    // ---- timed section
    def live(): SparkSession = {
      if (spark.sparkContext.isStopped) spark = session()
      spark
    }
    if (!a.trace) {
      // passes until the next one would overrun the budget; at least
      // one default and one retune
      val t0 = now()
      var last = 0.0
      var k = 0
      while (k < 2 || now() - t0 + last <= a.seconds) {
        val t1 = now()
        if (staged) { run.stagedPair(template, traced = false); k += 2 }
        else { run.inMemoryPass(live(), pagesDir, if (k % 2 == 0) "default" else "retune", traced = false); k += 1 }
        last = now() - t1
      }
      endToEnd(run, setupS)
    } else if (staged) {
      // the traced pair from a cold start, as the untraced runs time it;
      // then the overhead from an untraced and a traced fresh run, warm
      run.stagedPair(template, traced = true)
      layers(run)
      run.stagedPair(template, traced = false, resume = false)
      run.stagedPair(template, traced = true, resume = false)
      traced(run, live(), pagesDir, run.defaults(2).wall, run.defaults(1).wall)
    } else {
      // an untraced default pass as the reference, then the traced pass
      run.inMemoryPass(live(), pagesDir, "default", traced = false)
      val listener = new LayerListener
      live().sparkContext.addSparkListener(listener)
      try run.inMemoryPass(spark, pagesDir, "default", traced = true)
      finally {
        org.apache.spark.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      layers(run)
      traced(run, spark, pagesDir, run.defaults(1).wall, run.defaults(0).wall)
    }

    val attempted = run.defaults.size + run.retunes.size
    val failed = (run.defaults ++ run.retunes).count(!_.ok)
    run.detail("passes") = Map(
      "default_s" -> run.defaults.map(_.wall).toSeq,
      "retune_s" -> run.retunes.map(_.wall).toSeq)
    run.detail("check_s") = run.checkS
    run.detail("digests") = run.digests.toMap
    a.digests.foreach { f =>
      expectedDigests(f, a.workload, a.seed).foreach { case (kind, want) =>
        run.digests.get(kind) match {
          case Some(got) if got != want => run.fail(kind, s"digest $got != recorded $want")
          case _ =>
        }
      }
    }
    run.detail("failures") = run.failures.toSeq
    run.detail("host") = Host.describe()
    run.detail("workload") = a.workload
    run.detail("seed") = a.seed
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    println("PERFBENCH_DETAIL " + json.writeValueAsString(run.detail))
    val correct = run.failures.isEmpty && failed == 0
    println("PERFBENCH_RESULT " + json.writeValueAsString(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> run.metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def endToEnd(run: Run, setupS: Double): Unit = {
    val ok = run.defaults.filter(_.ok).toSeq
    val wall = median(ok.map(_.wall))
    run.metrics("wall_s") = (wall, "s")
    run.metrics("triples_per_s") = (run.triples / wall, "1/s")
    run.metrics("resume_s") = (median(run.retunes.filter(_.ok).map(_.wall).toSeq), "s")
    run.metrics("setup_s") = (setupS, "s")
    run.metrics("cpu_s") = (median(ok.map(_.cpu)), "s")
  }

  private def expectedDigests(file: String, workload: String, seed: Long): Map[String, String] = {
    val f = new java.io.File(file)
    if (!f.exists()) Map.empty
    else {
      val root = new ObjectMapper().readTree(f)
      val node = root.path(workload).path(seed.toString)
      import scala.jdk.CollectionConverters._
      node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  /** The layer record of the traced operation, read from the trace. */
  private def layers(run: Run): Unit = {
    val m = run.metrics
    Trace.layerMetrics(cpus).foreach { case (k, v, u) => m(k) = (v, u) }
    m("driver.idle_s") = (Trace.driverIdleSeconds, "s")
    m("canon.lsh.records") = (Trace.shuffleRecords("canon.lsh").toDouble, "count")
    val rounds = Trace.descriptions.filter(_.startsWith("cc: round")).distinct.size
    m("canon.cc.path") = (if (rounds > 0) 1.0 else 0.0, "flag")
    m("canon.cc.rounds") = (rounds.toDouble, "count")
    run.detail("jobs") = Trace.attribution
  }

  private def traced(run: Run, spark0: SparkSession, pagesDir: String,
      tracedWall: Double, untracedWall: Double): Unit = {
    val m = run.metrics
    val work = run.detail.getOrElse("work", Map.empty).asInstanceOf[collection.Map[String, Any]]
    def w(k: String): Double = work.get(k).map(_.toString.toDouble).getOrElse(0.0)
    m("canon.names.count") = (w("distinct_names"), "count")
    m("canon.merge.merge_ratio") =
      (if (w("distinct_names") > 0) w("entities") / w("distinct_names") else 0.0, "ratio")
    val sinkRows = if (run.a.workload == "staged_resume") 0.0
      else (Check.NodeLabels.map(l => w(s"nodes.$l")) ++
        Check.EdgeEnds.map(e => w(s"edges.${e._1}"))).sum
    m("sink.rows") = (sinkRows, "count")
    m("lineage.reused_stages") =
      (run.detail.get("reused_stages").map(_.toString.toDouble).getOrElse(0.0), "count")
    m("trace.overhead_s") = (tracedWall - untracedWall, "s")
    m("trace.overhead_share") = ((tracedWall - untracedWall) / untracedWall, "ratio")
    m("heap.peak_after_gc_mb") = (run.heapPeaks.max, "MiB")
    // the narrow kernels, timed call by call over the same input
    val spark = if (spark0.sparkContext.isStopped) session() else spark0
    Kernels.measure(spark, pagesDir).foreach { case (k, v, u) => m(k) = (v, u) }
    m("work.pages") = (w("pages"), "count")
    m("work.triples") = (w("triples"), "count")
    m("work.entities") = (w("entities"), "count")
    (Check.NodeLabels.map(l => s"nodes.$l") ++ Check.EdgeEnds.map(e => s"edges.${e._1}"))
      .foreach(k => m(s"work.$k") = (w(k), "count"))
    m("host.nproc") = (cpus.toDouble, "count")
    m("host.mem_mb") = (Host.memTotalMb.toDouble, "MiB")
  }
}
