package graft.pipeline

import graft.pages.PagesGenerator
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-stage checkpointing + lineage metrics — the Spark-native form of
  * the reference's temp-batch JSON checkpoints and chunk-exists resume
  * filter (reference test_event_GraphExtractor.py:73-91,
  * Base_Neo4j.py:109-158; SURVEY.md §7.3).
  *
  * Each stage writes its output table under `outDir/<stage>` and appends
  * lineage rows (run_id, stage, partition_id, file, rows, wall_ms,
  * committed_at) to `outDir/_metrics`: one row per committed part file,
  * its row count read from the file's parquet footer on the driver, and
  * `partition_id` the number of the write task that produced it. A
  * resumed run skips any stage whose output already committed (parquet
  * _SUCCESS marker — the atomic-commit analogue of the reference's
  * chunk-exists check) and recomputes only downstream stages, so a job
  * killed after stage k replays nothing before k+1.
  *
  * Committing and reopening a stage launches no Spark job beyond the
  * stage's own write and its one `_metrics` append: every stage, written
  * or reused, is reopened with the Spark schema stored in its footers
  * (no schema-inference read), and [[rows]] serves its row count from
  * the footer sums (no `count()`), which is where [[KGJob]]'s per-stage
  * counts come from.
  */
final class Lineage(
    spark: SparkSession,
    outDir: String,
    runId: String,
    resume: Boolean,
    jobFingerprint: String = "") {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  // Hadoop FileSystem API, not java.nio: outDir may be any scheme the
  // cluster mounts (hdfs://, s3a://, ...) — a driver-local Files.exists
  // would silently never see a remote _SUCCESS and resume would rerun
  // every stage
  private def committed(path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(conf).exists(p)
  }

  // Semantic-format stamp: schema guards (`requires`) can't see a
  // change that keeps columns identical but alters their MEANING (e.g.
  // the event-ordinal recipe feeding event_id) — resuming across such
  // a change would join new-recipe ids against old-recipe rows and
  // silently produce empty/missing edges. A stage is only reusable if
  // its stamp matches Lineage.FormatVersion PLUS the job fingerprint
  // (input identity) PLUS the stage's extra fingerprint (its tuning
  // config, for cfg-dependent stages): without these, `KGJob ... resume
  // --merge-threshold=0.99` would read every canonicalization stage
  // back from the 0.95-threshold run and silently ignore the new
  // flags. The extra fingerprint is PER STAGE so a retuned flag
  // recomputes only the cfg-dependent tail — the expensive extraction
  // front (which depends on the input, not the knobs) is still reused;
  // at 10^12-document scale that reuse is the point of the lineage.
  // The stamp is written AFTER the parquet commit, so a crash between
  // the two recomputes (safe direction).
  private def stampPath(path: String) = new Path(path, "_graft_format")

  private def stampValue(extra: String): String =
    Seq(Lineage.FormatVersion, jobFingerprint, extra)
      .filter(_.nonEmpty).mkString("|")

  private def stampMatches(path: String, extra: String): Boolean = {
    val p = stampPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) false
    else
      try {
        val in = fs.open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          out.toString("UTF-8").trim == stampValue(extra)
        } finally in.close()
      } catch {
        // any unreadable/corrupt stamp means "unknown version":
        // recompute — NonFatal, not just IOException, so an exotic FS
        // implementation error degrades to a safe recompute exactly
        // like the adjacent requires-guard does
        case scala.util.control.NonFatal(_) => false
      }
  }

  private def writeStamp(path: String, extra: String): Unit = {
    val p = stampPath(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(stampValue(extra).getBytes("UTF-8")) finally out.close()
  }

  /** Run (or resume) one stage. The returned frame always reads from
    * the committed parquet, so downstream stages see identical data
    * whether the stage ran or was skipped.
    *
    * @param requires columns the committed output must carry to be
    *   reusable: a resume against an outDir written by an older library
    *   version whose stage schema predates them recomputes the stage
    *   instead of crashing downstream with a missing-column error.
    * @param fingerprint extra stage identity folded into the format
    *   stamp — pass the tuning config (its case-class toString) for
    *   stages whose OUTPUT depends on it, so a resume under different
    *   flags recomputes them instead of serving the old run's data. */
  def stage(name: String, requires: Seq[String] = Nil,
      fingerprint: String = "")
      (compute: => DataFrame): DataFrame = {
    val path = s"$outDir/$name"
    // footers, not a read-back: a missing or unreadable footer (like a
    // stale stamp) means "not reusable" and the stage recomputes
    val reused =
      if (resume && committed(path) && stampMatches(path, fingerprint))
        Lineage.footers(conf, path)
          .filter(f => requires.forall(f.schema.fieldNames.contains))
      else None
    val footers = reused.getOrElse {
      val t0 = System.nanoTime()
      compute.write.mode(SaveMode.Overwrite).parquet(path)
      writeStamp(path, fingerprint)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val written = Lineage.footers(conf, path).getOrElse(
        throw new IllegalStateException(s"stage $name committed no readable parquet footers"))
      appendMetrics(name, wallMs, written)
      written
    }
    stageRows(name) = footers.rows
    spark.read.schema(footers.schema).parquet(path)
  }

  // one lineage row per committed file: these files ARE the next
  // stage's input files, so (file, rows) is the input-file + row-range
  // record the resume check consults (north rule: lineage = input file,
  // row ranges, counts per partition). A small local frame, written as
  // one file per commit.
  private def appendMetrics(name: String, wallMs: Long,
      footers: Lineage.Footers): Unit = {
    val at = java.sql.Timestamp.from(java.time.Instant.now())
    val rows = footers.files.map { case (file, n) =>
      Row(runId, name, Lineage.writeTask(file), file.toString, n, wallMs, at)
    }
    spark.createDataFrame(rows.asJava, Lineage.MetricsSchema).coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
  }

  private val stageRows = scala.collection.mutable.Map.empty[String, Long]

  /** Row count of a stage this instance committed or reused: the sum of
    * its part files' footer row counts. */
  def rows(name: String): Long = stageRows(name)

  // mergeSchema: _metrics is append-only across runs, so directories
  // written by different library versions may mix schemas
  def metrics(): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$outDir/_metrics")
}

object Lineage {
  /** Bump whenever any stage's output SEMANTICS change in a way the
    * column guards can't detect (columns unchanged, meaning changed) —
    * e.g. the round-2 switch of event ordinals from KB-spec ord to
    * dense within-chunk position, which changed event_id values under
    * an identical schema. Version "3": the current (dense-ordinal)
    * recipe; pre-stamp outDirs (round <= 2) have no marker and always
    * recompute. */
  val FormatVersion = "3"

  /** The `_metrics` row schema (unchanged since the table's first
    * version; every column non-null). */
  val MetricsSchema: StructType = StructType(Seq(
    StructField("run_id", StringType, nullable = false),
    StructField("stage", StringType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("wall_ms", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false)))

  /** What a committed stage's parquet footers record: each data file
    * with its row count, and the Spark schema they were written with. */
  final case class Footers(files: Seq[(Path, Long)], schema: StructType) {
    def rows: Long = files.map(_._2).sum
  }

  // the key under which Spark's parquet writer stores the row schema
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Reads the footer of every data file in the stage directory `path`
    * on the driver, through the Hadoop FS of the path's scheme. None
    * when there is no data file, a footer is unreadable or carries no
    * Spark schema, or the files disagree on the schema. */
  def footers(conf: Configuration, path: String): Option[Footers] =
    try {
      val dir = new Path(path)
      val files = dir.getFileSystem(conf).listStatus(dir).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .sortBy(_.getPath.getName)
      val read = files.map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try (s.getPath, r.getRecordCount, Option(
          r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
        finally r.close()
      }
      read.map(_._3).distinct match {
        case Seq(Some(json)) => Some(Footers(read.map(f => (f._1, f._2)),
          DataType.fromJson(json).asInstanceOf[StructType]))
        case _ => None
      }
    } catch { case NonFatal(_) => None }

  private val PartFile = """part-(\d+)-.*""".r

  /** The write task number in a Spark part-file name
    * (`part-00003-<uuid>-c000.snappy.parquet` -> 3); -1 for any other
    * name. */
  private def writeTask(file: Path): Int = file.getName match {
    case PartFile(n) => n.toInt
    case _ => -1
  }

  /** The exact stamp a KGJob.run stage commits (version | nPages
    * [| cfg]) — for tests that must restore a wiped stamp. */
  def stampFor(nPages: Long, extra: String = ""): String =
    Seq(FormatVersion, nPages.toString, extra).filter(_.nonEmpty)
      .mkString("|")
}

/** spark-submit entry for the full KG job:
  *   runMain graft.pipeline.KGJob <nPages> <outDir> [resume] [--flags]
  * Tuning knobs ([[graft.GraftConfig]] — the reference's
  * framework/config.py surface) arrive as `--key=value` flags, e.g.
  * `--merge-threshold=0.97 --name-bands=32 --name-rows=4`.
  * Stage graph with per-stage commit + resume (north rule: resumable
  * from checkpoint with per-partition lineage + metrics).
  */
object KGJob {
  def main(args: Array[String]): Unit = {
    val (cfg, positional) = graft.GraftConfig.fromArgs(args.toSeq)
    val nPages = positional.headOption.map(_.toLong).getOrElse(1000L)
    val outDir = if (positional.length > 1) positional(1) else "/tmp/graft_kg"
    val resume = positional.contains("resume")
    val spark = session(parseCpus(sys.env.get("SPARK_GRAFT_CPUS")))
    // every Janino compile of a generated class lands in this JVM-wide
    // histogram, a cache hit does not; its mean covers the JVM's
    // compiles, which under spark-submit are this run's
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiled0 = compiles.getCount
    val t0 = System.nanoTime()
    val result = run(spark, nPages, outDir, resume, cfg = cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    result.foreach { case (k, v) => println(f"[kg] $k%-10s $v%,d rows") }
    println(f"[kg] wall ${sec}%.1f s")
    println(f"[kg] codegen ${compiles.getCount - compiled0}%,d classes compiled, " +
      f"mean ${compiles.getSnapshot.getMean}%.1f ms")
    spark.stop()
  }

  /** Entries of Spark's JVM-wide cache of compiled generated classes:
    * about 3x the ~300 classes a whole perfbench `crawl` run compiles.
    * Spark's default of 100 is below one DAG pass (~250 classes), so
    * the LRU cycles and every pass recompiles. A static conf, fixed by
    * a JVM's first session: build.sbt passes the same value to the
    * forked JVMs whose first session is built elsewhere. */
  val CodegenCacheMaxEntries = 1000

  /** A SPARK_GRAFT_CPUS value: unset or blank gives 32 cores; anything
    * but a positive integer falls back to 32 too, with a stderr warning
    * naming the value (not a JVM crash, not `local[0]`). */
  def parseCpus(raw: Option[String]): Int = {
    val default = 32
    raw.map(_.trim).filter(_.nonEmpty).fold(default) { v =>
      v.toIntOption.filter(_ > 0).getOrElse {
        Console.err.println(s"[kg] ignoring SPARK_GRAFT_CPUS='$v' " +
          s"(not a positive integer); using $default")
        default
      }
    }
  }

  /** The job's local session on `cpus` cores (shuffle partitions =
    * cores); the test suites run on it too. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheMaxEntries.toString)
      // see Bench.session: the canonicalization aggs carry capped
      // accumulator state, so hash aggregation is safe far beyond the
      // 128-key sort-fallback default
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stage-checkpointed pipeline; returns stage -> row count, as the
    * lineage recorded it from the committed footers (no count query). */
  def run(spark: SparkSession, nPages: Long, outDir: String,
      resume: Boolean = false, partitions: Int = 32,
      cfg: graft.GraftConfig = graft.GraftConfig.default)
      : Seq[(String, Long)] = {
    import spark.implicits._
    // job fingerprint = input identity (every stage's data depends on
    // nPages); the cfg-dependent canonicalization tail additionally
    // stamps the full tuning config (case-class toString is canonical),
    // so `resume --merge-threshold=0.99` recomputes names/entities/
    // name_map/edges/participates/event_similar but still reuses the
    // expensive extraction front
    val lin = new Lineage(spark, outDir, s"run_$nPages", resume,
      jobFingerprint = nPages.toString)
    val cfgFp = cfg.toString
    val tuned = Set("names", "entities", "name_map", "edges", "participates", "event_similar")
    // requires name_key: a resume over an outDir committed before the
    // name map carried it would otherwise reuse the 2-column table and
    // break the alias-closure/entity-counts consumers downstream
    val requires = Map("mentions" -> Seq("ord"), "name_map" -> Seq("name_key"))

    val pages = lin.stage("pages") {
      PagesGenerator.pages(spark, nPages, partitions).toDF()
    }
    val chunks = lin.stage("chunks", requires = Seq("content_hash")) {
      KGPipeline.chunk(pages.as[graft.pages.Page]).toDF()
    }
    val distinct = lin.stage("chunks_distinct", requires = Seq("content_hash")) {
      // keyed by FULL content hash (deterministic: identical contents
      // are identical rows); the lossy 8-hex chunk_id dedup happens
      // deterministically inside extract (min_by content_hash)
      chunks.dropDuplicates("content_hash")
    }
    // each stage's count is its footer sum
    new KGPipeline.Graph(distinct.as[KGPipeline.ChunkRow], cfg, name => df =>
      (lin.stage(name, requires.getOrElse(name, Nil), if (tuned(name)) cfgFp else "")(df),
        Some(lin.rows(name))))
    Seq("pages", "chunks", "mentions", "triples", "events", "event_edges",
      "entities", "edges", "participates", "event_similar")
      .map(s => s -> lin.rows(s))
  }

}
