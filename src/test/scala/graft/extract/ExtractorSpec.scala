package graft.extract

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The north-rule acceptance gate (BASELINE.md): run the deterministic
  * extractor over the reference's golden fixture chunks and require
  * micro-averaged P >= 0.95 AND R >= 0.95 on (subj, pred, obj) triples.
  */
class ExtractorSpec extends AnyFunSuite {

  private lazy val fixture = {
    val in = getClass.getResourceAsStream("/graph_extract_fixture.json")
    require(in != null, "fixture missing")
    val root = new ObjectMapper().readTree(in)
    in.close()
    root.elements().asScala.toVector
  }

  private lazy val extractor = new TripleExtractor(KnowledgeBase.load())

  test("golden fixture P/R gate: micro P >= 0.95 and R >= 0.95") {
    var tp = 0; var fp = 0; var fn = 0
    fixture.zipWithIndex.foreach { case (item, i) =>
      val content = item.get("content").asText()
      val gold = item.get("metadata").get("entity_relations").elements().asScala.map { r =>
        (r.get("head_id").asText(), r.get("relation_type").asText(), r.get("tail_id").asText())
      }.toSet
      val (_, triples) = extractor.extract(s"chunk_$i", s"fixture://$i", content)
      val got = triples.map(t => (t.subj, t.pred, t.obj)).toSet
      tp += (gold & got).size
      fp += (got -- gold).size
      fn += (gold -- got).size
      (got -- gold).foreach(x => info(s"FP chunk $i: $x"))
      (gold -- got).foreach(x => info(s"FN chunk $i: $x"))
    }
    val p = tp.toDouble / math.max(tp + fp, 1)
    val r = tp.toDouble / math.max(tp + fn, 1)
    info(f"micro P=$p%.4f R=$r%.4f (tp=$tp fp=$fp fn=$fn)")
    assert(p >= 0.95, s"precision $p below gate")
    assert(r >= 0.95, s"recall $r below gate")
  }

  test("held-out chunks (0 and 7) pass in isolation") {
    // the two structurally hardest chunks (table-heavy QC report, spec
    // body) evaluated alone — guards against aggregate masking
    for (i <- Seq(0, 7)) {
      val item = fixture(i)
      val gold = item.get("metadata").get("entity_relations").elements().asScala.map { r =>
        (r.get("head_id").asText(), r.get("relation_type").asText(), r.get("tail_id").asText())
      }.toSet
      val (_, triples) = extractor.extract(s"chunk_$i", s"fixture://$i",
        item.get("content").asText())
      val got = triples.map(t => (t.subj, t.pred, t.obj)).toSet
      val p = (gold & got).size.toDouble / math.max(got.size, 1)
      val r = (gold & got).size.toDouble / math.max(gold.size, 1)
      assert(p >= 0.95 && r >= 0.95, s"chunk $i P=$p R=$r")
    }
  }

  test("mentions fire for gazetteer entities and respect the kill-list") {
    val (mentions, _) = extractor.extract("c", "u", fixture(0).get("content").asText())
    assert(mentions.nonEmpty)
    assert(mentions.forall(m => EntityFilters.keep(m.entityName)))
    assert(mentions.map(_.entityName).contains("室内机电控板"))
  }

  test("code mentions honor word boundaries of the ORIGINAL text") {
    // whitespace is stripped before matching, so the boundary must be
    // judged pre-normalization: a space-delimited code after a Latin
    // word is a real mention; a directly-concatenated one is not
    val (spaced, _) = extractor.extract("c", "u", "spec model KJ-12345 已记录。")
    assert(spaced.map(_.entityName).contains("KJ-12345"),
      "space-delimited code after a Latin word was not detected")
    val (glued, _) = extractor.extract("c", "u", "specmodelKJ-12345 已记录。")
    assert(!glued.map(_.entityName).contains("KJ-12345"),
      "code glued to a Latin word must not detect")
    // trailing boundary: an alnum tail glued to the 5-char body rejects
    val (tail, _) = extractor.extract("c", "u", "编号KJ-123456 在列。")
    assert(!tail.map(_.entityName).exists(_.startsWith("KJ-")),
      "code with a 6th alnum char must not detect")
    // CJK delimiters still work as before
    val (cjk, _) = extractor.extract("c", "u", "部件KJ-12345，已记录。")
    assert(cjk.map(_.entityName).contains("KJ-12345"))
    // a boundary-rejected match must not consume the span of a valid
    // code overlapping it: XH.BJ123 rejects (alnum tail), BJ12345 is real
    val (overlap, _) = extractor.extract("c", "u", "编号XH.BJ12345，已记录。")
    assert(overlap.map(_.entityName).contains("BJ12345"),
      "overlapping code after a rejected match was skipped")
  }

  test("kill-list port drops the reference's filtered classes") {
    val dropped = Seq("123", "3.14", "2024年", "昨天", "这个", "我们", "很多",
      "非常", "但是", "，。", "x", " ", "12, 34")
    val kept = Seq("室内机电控板", "PCB插座", "TCL空调", "ab")
    dropped.foreach(n => assert(!EntityFilters.keep(n), s"should drop: '$n'"))
    kept.foreach(n => assert(EntityFilters.keep(n), s"should keep: '$n'"))
  }

  test("event extraction matches the fixture exactly per chunk") {
    fixture.zipWithIndex.foreach { case (item, i) =>
      val gold = item.get("metadata").get("events").elements().asScala.map { e =>
        (e.get("content").asText(), e.get("type").asText())
      }.toSet
      val (_, _, events, _) = extractor.extractAll(s"chunk_$i", s"fixture://$i",
        item.get("content").asText())
      val got = events.map(e => (e.content, e.eventType)).toSet
      assert(got == gold, s"chunk $i: extra=${got -- gold} missing=${gold -- got}")
    }
  }

  test("event participants resolve to gold entity names") {
    val item = fixture(0)
    val goldNames = item.get("metadata").get("entities").elements().asScala
      .map(_.get("entity_name").asText()).toSet
    val (_, _, events, _) = extractor.extractAll("c", "u", item.get("content").asText())
    assert(events.nonEmpty)
    val parts = events.flatMap(_.participants)
    assert(parts.nonEmpty)
    assert(parts.forall(goldNames), s"unknown participants: ${parts.filterNot(goldNames)}")
  }

  test("event relations fire on fixture chunks, endpoints resolved to fired events") {
    val kb = KnowledgeBase.load()
    assert(kb.eventRelations.nonEmpty, "KB carries no event-relation specs")
    // all four contract types present (promt.py:152-154) — the
    // non-vacuous guarantee the fixture (0 event_relations) cannot give
    assert(kb.eventRelations.map(_.relationType).toSet ==
      Set("时序关系", "因果关系", "层级关系", "条件关系"))
    var total = 0
    fixture.zipWithIndex.foreach { case (item, i) =>
      val contents = item.get("metadata").get("events").elements().asScala
        .map(_.get("content").asText()).toVector
      val idx = contents.zipWithIndex.toMap
      // E4 semantics: a relation appears iff both endpoint events fired;
      // endpoint ords = the fired events' within-chunk positions
      val expected = kb.eventRelations
        .filter(r => idx.contains(r.headContent) && idx.contains(r.tailContent))
        .map(r => (idx(r.headContent), idx(r.tailContent), r.relationType)).toSet
      val (_, _, _, rels) = extractor.extractAll(s"chunk_$i", s"fixture://$i",
        item.get("content").asText())
      val got = rels.map(r => (r.headOrd, r.tailOrd, r.relationType)).toSet
      assert(got == expected, s"chunk $i: extra=${got -- expected} missing=${expected -- got}")
      total += got.size
    }
    assert(total == kb.eventRelations.size,
      s"authored specs fired $total times over the fixture, expected each exactly once")
  }

  test("extraction is deterministic and order-stable") {
    val c = fixture(5).get("content").asText()
    val a = extractor.extract("c", "u", c)
    val b = extractor.extract("c", "u", c)
    assert(a == b)
  }

  test("automaton matches equal naive contains over random + KB-derived text") {
    // oracle for the scan-loop fast paths (root char bitmap, direct
    // root array, BitSet hits): per-pattern String.contains
    val kb = graft.extract.KnowledgeBase.load().withAliases
    val auto = graft.extract.AhoCorasick(kb.patterns)
    def naive(text: String): Set[Int] =
      kb.patterns.zipWithIndex
        .collect { case (p, id) if p.nonEmpty && text.contains(p) => id }.toSet
    val rnd = new scala.util.Random(7)
    // fragments of real patterns glued with noise: exercises partial
    // matches, overlaps, and fail-link walks
    val pieces = kb.patterns.filter(_.nonEmpty)
    def randText(): String = {
      val sb = new StringBuilder
      for (_ <- 0 to rnd.nextInt(12)) {
        val p = pieces(rnd.nextInt(pieces.size))
        val frag = p.substring(0, 1 + rnd.nextInt(p.length))
        sb ++= (if (rnd.nextBoolean()) frag else p)
        if (rnd.nextBoolean()) sb ++= "，的X "
      }
      sb.toString
    }
    for (_ <- 1 to 300) {
      val t = randText()
      val got = auto.matchedBits(t).stream().toArray.toSet
      assert(got == naive(t), s"text=$t")
    }
    assert(auto.matchedBits("").isEmpty)
  }

  test("findCode scanner is equivalent to the code-mention regex") {
    // the scanner replaced this Pattern in the hot loop (no literal
    // prefix => the engine probes every position; measured ~50% of
    // extraction CPU) — the Pattern stays here as the executable spec
    val re = java.util.regex.Pattern.compile(
      "(?i:KJ|XH|BJ|DZ)[-._/]?[0-9A-Za-z]{5}")
    def regexFind(s: String, from: Int): Long = {
      val m = re.matcher(s)
      if (from <= s.length && m.find(from)) (m.start.toLong << 32) | m.end.toLong
      else -1L
    }
    // adversarial alphabet: prefix letters, separators, digits, CJK,
    // boundary-ish chars — dense with near-misses and overlaps
    val alphabet =
      "KJXHBDZkjxhbdz-._/0123456789aAzZ，。部件型号属于 ".toCharArray
    val rnd = new scala.util.Random(42)
    var checked = 0
    for (len <- Seq(0, 1, 6, 7, 8, 9, 20, 60); _ <- 1 to 400) {
      val s = new String(Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))))
      // every from-position, not just 0: the extractor re-seeks from
      // start+1 on boundary rejection, so mid-string resumes must agree
      var from = 0
      while (from <= len) {
        assert(graft.extract.TripleExtractor.findCode(s, from) == regexFind(s, from),
          s"disagree on ${s.map(c => f"\\u$c%04x").mkString} from=$from")
        checked += 1
        from += 1
      }
    }
    // targeted overlap/backtrack cases from the scanner's comment
    for (s <- Seq("XH.BJ12345", "KJ-1234", "KJ-1234,", "KJXH12345",
        "kj_abcde", "DZ/12345X", "KJ..12345", "aKJ-12345b", "KJ-12345")) {
      var from = 0
      while (from <= s.length) {
        assert(graft.extract.TripleExtractor.findCode(s, from) == regexFind(s, from), s)
        from += 1
      }
    }
    assert(checked > 10000)
  }
}
