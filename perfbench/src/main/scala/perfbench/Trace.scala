package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Job-level trace of one traced iteration. A [[LayerListener]] feeds
  * it; every job is attributed to a layer by its description, which is
  * either one of the program's own `Jobs.named` labels or a `bench: …`
  * label the benchmark sets around a public call it makes.
  *
  * `KGJob` runs in its own session, where the bench can set no label.
  * Its unlabelled jobs are attributed by what they do: a job of a SQL
  * execution that writes `<outDir>/<stage>` goes to that stage's layer
  * (`Settings.StageLayer`; `_metrics` appends are `lineage`); a job
  * outside any SQL execution reads a committed stage's footers back,
  * which is `lineage` bookkeeping too; the rest (the job's closing row
  * counts, for one) is `other`. */
object Trace {

  /** Layers in report order. */
  val JobLayers: Seq[String] = Seq("pipeline", "canon.names", "canon.lsh",
    "canon.cc", "canon.merge", "canon.rewrite", "canon.events", "sink",
    "lineage", "other")

  /** Description → layer. Unknown descriptions fall to `other`, which is
    * reported like any layer so that nothing is silently dropped. */
  def layerOf(desc: String): String = desc match {
    case null => "unlabelled"
    case d if d.startsWith("extract: ") => "pipeline"
    case d if d.startsWith("canon: distinct-name agg") => "canon.names"
    case d if d.startsWith("canon: LSH band join") => "canon.lsh"
    case d if d.startsWith("canon: connected components") || d.startsWith("cc: ") =>
      "canon.cc"
    case d if d.startsWith("canon: nameMap checkpoint") => "canon.merge"
    case d if d.startsWith("bench: ") =>
      Settings.LabelLayer.getOrElse(d.stripPrefix("bench: "), "other")
    case _ => "other"
  }

  final case class Task(ctx: Int, stage: Int, runMs: Long, shuffleBytes: Long,
      shuffleRecords: Long, spillBytes: Long)

  final case class Job(ctx: Int, id: Int, layer: String, desc: String, stages: Seq[Int],
      startMs: Long, var endMs: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (context, SQL execution id) → (the table directory it writes, if
    * any; its call site). */
  private val executions = mutable.HashMap.empty[(Int, Long), (Option[String], String)]
  /** The target in the command's detail section of a formatted plan:
    * `(7) Execute InsertIntoHadoopFsRelationCommand` … `Arguments: <path>, …`. */
  private val WriteTarget =
    """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]+\n)*?Arguments: ([^,\s]+)""".r
  private var contexts = 0
  /** Job and stage ids restart with every SparkContext; a listener
    * instance (one per context) tags its events with its own number. */
  def nextContext(): Int = synchronized { contexts += 1; contexts }

  /** Only jobs submitted inside a window (a timed operation) count. */
  def window[A](f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f finally synchronized { windows += ((t0, System.currentTimeMillis())) }
  }

  private[perfbench] def sqlStart(ctx: Int, e: SparkListenerSQLExecutionStart): Unit =
    synchronized {
      val target = WriteTarget.findFirstMatchIn(e.physicalPlanDescription)
        .map(_.group(1).stripSuffix("/").split('/').last)
      executions((ctx, e.executionId)) = (target, e.description)
    }

  /** (layer, description) of a job without a label; the description
    * ends with the call site of the job, or of its SQL execution. */
  private def unlabelled(ctx: Int, e: SparkListenerJobStart): (String, String) = {
    val site = e.stageInfos.headOption.map(_.name).getOrElse("?")
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))) match {
      case None => ("lineage", s"unlabelled: read of a committed stage ($site)")
      case Some(id) => executions.get((ctx, id.toLong)) match {
        case Some((Some(t), s)) =>
          (Settings.StageLayer.getOrElse(t, "other"), s"unlabelled: write $t ($s)")
        case x => ("other", s"unlabelled: query (${x.fold(site)(_._2)})")
      }
    }
  }

  private[perfbench] def jobStart(ctx: Int, e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    val (layer, d) = layerOf(desc) match {
      case "unlabelled" => unlabelled(ctx, e)
      case l => (l, desc)
    }
    jobs += Job(ctx, e.jobId, layer, d, e.stageIds, e.time, 0L)
  }

  private[perfbench] def jobEnd(ctx: Int, e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(j => j.ctx == ctx && j.id == e.jobId).foreach(_.endMs = e.time)
  }

  private[perfbench] def taskEnd(ctx: Int, e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(ctx, e.stageId, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  private def timedJobs: Seq[Job] = jobs.filter(j => j.endMs > 0 &&
    windows.exists { case (s, e) => j.startMs >= s && j.startMs <= e }).toSeq

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2).toDouble
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Length of the union of [start, end) intervals, in seconds. */
  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** The job metrics of every layer, keyed `<layer>.<metric>`. */
  def layerMetrics(cores: Int): Seq[(String, Double, String)] = synchronized {
    val timed = timedJobs
    // a stage shared by several jobs runs its tasks once: the first
    // job that lists it owns it
    val stageLayer = mutable.HashMap.empty[(Int, Int), String]
    timed.sortBy(j => (j.ctx, j.id)).foreach(j =>
      j.stages.foreach(s => stageLayer.getOrElseUpdate((j.ctx, s), j.layer)))
    JobLayers.flatMap { l =>
      val js = timed.filter(_.layer == l)
      val ts = tasks.filter(t => stageLayer.get((t.ctx, t.stage)).contains(l))
      val wall = unionSeconds(js.map(j => (j.startMs, j.endMs)))
      val taskS = ts.map(_.runMs).sum / 1000.0
      // DS2-style skew, per stage (max / median task time), weighted by
      // the stage's task time; single-task stages have no skew to show
      val perStage = ts.groupBy(t => (t.ctx, t.stage)).values.filter(_.size > 1).map { st =>
        val runs = st.map(_.runMs).toSeq
        val med = math.max(median(runs), 1.0)
        (runs.max / med, runs.sum.toDouble)
      }
      val w = perStage.map(_._2).sum
      val skew = if (w > 0) perStage.map { case (s, t) => s * t }.sum / w else 0.0
      Seq(
        (s"$l.wall_s", wall, "s"),
        (s"$l.task_s", taskS, "s"),
        (s"$l.util", if (wall > 0) taskS / (wall * cores) else 0.0, "ratio"),
        (s"$l.shuffle_mb", ts.map(_.shuffleBytes).sum / 1048576.0, "MiB"),
        (s"$l.spill_mb", ts.map(_.spillBytes).sum / 1048576.0, "MiB"),
        (s"$l.skew", skew, "ratio"),
        (s"$l.jobs", js.size.toDouble, "count"))
    }
  }

  /** Time inside the timed operations with no job running: driver-side
    * planning, collects and solves between the barriers. */
  def driverIdleSeconds: Double = synchronized {
    windows.map { case (s, e) => (e - s) / 1e3 }.sum -
      unionSeconds(timedJobs.map(j => (j.startMs, j.endMs)))
  }

  def shuffleRecords(layer: String): Long = synchronized {
    val stages = timedJobs.filter(_.layer == layer).flatMap(j => j.stages.map(j.ctx -> _)).toSet
    tasks.filter(t => stages((t.ctx, t.stage))).map(_.shuffleRecords).sum
  }

  def descriptions: Seq[String] = synchronized { timedJobs.map(j => String.valueOf(j.desc)) }

  /** `<layer> <- <description>` of every timed job, in order. */
  def attribution: Seq[String] = synchronized { timedJobs.map(j => s"${j.layer} <- ${j.desc}") }
}

/** Bench-owned listener. Registered on the bench's own session with
  * `addSparkListener`, and on the production entry's session through
  * `spark.extraListeners` (hence the public no-argument constructor). */
class LayerListener extends SparkListener {
  private val ctx = Trace.nextContext()
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(ctx, e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(ctx, e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnd(ctx, e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => Trace.sqlStart(ctx, s)
    case _ =>
  }
}
