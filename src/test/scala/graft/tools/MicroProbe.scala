package graft.tools

import graft.extract.{KnowledgeBase, TripleExtractor}
import graft.pages.PagesGenerator
import graft.pipeline.KGPipeline

/** Single-threaded phase-level microbenchmark of the narrow pipeline
  * (no Spark): html->markdown, markdown split, normalize, automaton
  * scan, open-vocab regexes, spec loops. Diagnostic only — run with
  * `Test/runMain graft.tools.MicroProbe [nPages]`. */
object MicroProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 3000
    val pages = (0 until n).map(i => PagesGenerator.page(i.toLong))
    def t[A](name: String, reps: Int)(f: => A): A = {
      var x: A = null.asInstanceOf[A]
      val s = System.nanoTime()
      var i = 0
      while (i < reps) { x = f; i += 1 }
      println(f"[micro $name] ${(System.nanoTime() - s) / 1e9 / reps}%.3f s")
      x
    }
    // warm JIT once through everything
    val kb = KnowledgeBase.load().withAliases
    val ex = new TripleExtractor(kb)
    pages.take(200).foreach { p =>
      KGPipeline.chunkPage(p).foreach(c => ex.extractAll(c.chunk_id, c.url, c.content))
    }

    val texts = t("htmlToMarkdown", 3) {
      pages.map(p => graft.html.HtmlToMarkdown(
        new String(p.html, java.nio.charset.StandardCharsets.UTF_8)))
    }
    val htmls = pages.map(p =>
      new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
    val tokss = t("html.tokenize", 3) { htmls.map(graft.html.HtmlToMarkdown.tokenize) }
    val bodies = t("html.selectContent", 3) { tokss.map(graft.html.HtmlToMarkdown.selectContent) }
    t("html.convert", 3) { bodies.map(graft.html.HtmlToMarkdown.convert) }
    val chunks = t("markdownSplit+id", 3) {
      pages.flatMap(p => KGPipeline.chunkPage(p, fromHtml = false))
    }
    println(s"[micro chunks] ${chunks.size} over $n pages, " +
      f"avg ${chunks.map(_.content.length).sum.toDouble / chunks.size}%.0f chars")
    val norm = t("normalizeWithOffsets", 3) {
      chunks.map(c => KnowledgeBase.normalizeWithOffsets(c.content))
    }
    t("extractAll", 3) {
      chunks.foreach(c => ex.extractAll(c.chunk_id, c.url, c.content))
    }
    // phase splits inside extractAll, approximated via public pieces:
    // automaton scan alone
    val auto = graft.extract.AhoCorasick(kb.patterns)
    t("automatonScan", 3) { norm.foreach { case (s, _) => auto.matchedBits(s) } }
    val codeRe = java.util.regex.Pattern.compile("(?i:KJ|XH|BJ|DZ)[-._/]?[0-9A-Za-z]{5}")
    val relRe = java.util.regex.Pattern.compile(
      "部件型号[:：]((?i:KJ|XH|BJ|DZ)[-._/]?[0-9A-Za-z]{5})，属于([^，。]{2,24}组件)。")
    t("codeMentionRe", 3) { norm.foreach { case (s, _) =>
      val m = codeRe.matcher(s); while (m.find()) {} } }
    t("findCodeScanner", 3) { norm.foreach { case (s, _) =>
      var c = graft.extract.TripleExtractor.findCode(s, 0)
      while (c >= 0) c = graft.extract.TripleExtractor.findCode(s, c.toInt)
    } }
    t("codeRelRe", 3) { norm.foreach { case (s, _) =>
      val m = relRe.matcher(s); while (m.find()) {} } }
    val _ = texts
  }
}
