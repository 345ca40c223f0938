package perfbench

import graft.chunk.MarkdownSplitter
import graft.extract.TripleExtractor
import graft.html.HtmlToMarkdown
import graft.pages.Page
import graft.pipeline.KGPipeline
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A pass over the pages table that times every call to the three
  * narrow kernels the pipeline runs per page and per chunk, summed over
  * tasks through accumulators. Extraction runs once per distinct chunk
  * content within a partition, as in `KGPipeline.extract`. */
object Kernels {
  def measure(spark: SparkSession, pagesDir: String): Seq[(String, Double, String)] = {
    import spark.implicits._
    val sc = spark.sparkContext
    def acc(n: String) = sc.longAccumulator(n)
    val names = for (k <- Seq("html", "chunk", "extract"); m <- Seq("ns", "calls", "bytes")) yield s"$k.$m"
    val a = names.map(n => n -> acc(n)).toMap
    val bc = sc.broadcast(TripleExtractor.default)
    val hashes = spark.read.parquet(pagesDir).as[Page].mapPartitions { it =>
      val ex = bc.value
      val seen = scala.collection.mutable.HashSet.empty[String]
      def add(k: String, t0: Long, bytes: Long): Unit = {
        a(s"$k.ns").add(System.nanoTime() - t0); a(s"$k.calls").add(1); a(s"$k.bytes").add(bytes)
      }
      it.flatMap { p =>
        val html = new String(p.html, UTF_8)
        var t0 = System.nanoTime()
        val text = HtmlToMarkdown(html)
        add("html", t0, p.html.length)
        t0 = System.nanoTime()
        val sections = MarkdownSplitter.split(text)
        add("chunk", t0, text.getBytes(UTF_8).length)
        sections.filter(_.content.nonEmpty).map { s =>
          val h = KGPipeline.md5Hex(s.content)
          if (seen.add(h)) {
            t0 = System.nanoTime()
            ex.extractAllCompact(s.content)
            add("extract", t0, s.content.getBytes(UTF_8).length)
          }
          h
        }
      }
    }.toDF("h")
    val row = hashes.agg(count(lit(1)), countDistinct("h")).head()
    val (chunks, distinct) = (row.getLong(0), row.getLong(1))
    Seq("html", "chunk", "extract").flatMap { k =>
      Seq((s"$k.busy_s", a(s"$k.ns").value / 1e9, "s"),
        (s"$k.calls", a(s"$k.calls").value.toDouble, "count"),
        (s"$k.mb_in", a(s"$k.bytes").value / 1048576.0, "MiB"))
    } ++ Seq(("chunk.chunks", chunks.toDouble, "count"),
      ("chunk.dup_share", if (chunks > 0) 1.0 - distinct.toDouble / chunks else 0.0, "ratio"))
  }
}
