package graft.canon

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.util.Random

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Local union-find oracle. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-id per component
    val byRoot = ids.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }

  /** Every edge endpoint, as the vertex frame. */
  private def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct()

  /** The default local-solve cap, pinned: `LocalSolveMax` reads
    * GRAFT_CC_LOCAL_MAX, and 0 there would test the distributed path
    * twice. */
  private val localMax = 500000L

  /** (id -> component) over the edge endpoints, on the driver union-find
    * fast path (local = true) or the distributed large-star/small-star
    * fixpoint (localSolveMax = 0). */
  private def solve(edges: DataFrame, local: Boolean): DataFrame =
    ConnectedComponents.components(edges, endpoints(edges), if (local) localMax else 0L)

  /** Both paths must match the oracle. */
  private def check(edges: Seq[(Long, Long)]): Unit = {
    val df = edges.toDF("src", "dst")
    for (local <- Seq(true, false))
      assert(solve(df, local).as[(Long, Long)].collect().toMap == oracle(edges),
        s"local = $local")
  }

  test("GRAFT_CC_LOCAL_MAX: valid values parse, blank and malformed fall back") {
    def parse(v: Option[String]): (Long, String) = {
      val err = new java.io.ByteArrayOutputStream()
      val n = Console.withErr(err)(ConnectedComponents.parseLocalSolveMax(v))
      (n, err.toString("UTF-8"))
    }
    assert(parse(Some("1234")) == ((1234L, "")))
    assert(parse(Some(" 0 ")) == ((0L, "")))
    // unset and blank mean "no override": the default, without a warning
    assert(parse(None) == ((500000L, "")))
    assert(parse(Some("  ")) == ((500000L, "")))
    // malformed: the default, with a warning that names the value
    for (bad <- Seq("5e5", "abc", "-1", "1_000")) {
      val (n, msg) = parse(Some(bad))
      assert(n == 500000L, bad)
      assert(msg.contains(s"'$bad'"), s"no warning naming '$bad': $msg")
    }
  }

  test("chain graph collapses to one component rooted at min") {
    check((1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq)
  }

  test("star graph (hot-entity skew shape)") {
    check((2L to 500L).map(i => (1L, i)))
  }

  test("inverted star (hub has the max id)") {
    check((1L to 499L).map(i => (500L, i)))
  }

  test("two components and a self-loop") {
    // the oracle keeps the self-loop vertex 5 as a singleton
    check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L), (11L, 12L)))
  }

  test("random graphs match union-find oracle") {
    val rnd = new Random(42)
    for (_ <- 1 to 3) {
      val n = 200
      val edges = (1 to 300).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      check(edges)
    }
  }

  test("edge-order permutation invariance") {
    val rnd = new Random(7)
    val edges = (1 to 100).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
    val shuffled = rnd.shuffle(edges)
    for (local <- Seq(true, false)) {
      val a = solve(edges.toDF("src", "dst"), local).as[(Long, Long)].collect().toMap
      val b = solve(shuffled.toDF("src", "dst"), local).as[(Long, Long)].collect().toMap
      assert(a == b, s"local = $local")
    }
  }

  test("string ids work (entity-name keyed CC), both paths") {
    val df = Seq(("b", "a"), ("c", "b"), ("x", "y")).toDF("src", "dst")
    val want = Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
    val local = solve(df, local = true).as[(String, String)].collect().toMap
    val dist = solve(df, local = false).as[(String, String)].collect().toMap
    assert(local == want)
    assert(dist == want)
  }

  test("supplementary-plane string ids: both paths elect the same representative") {
    // U+FFFF < U+20000 in UTF-8/code-point order (Spark's min), but the
    // opposite under Java compareTo — the local union-find must agree
    // with the distributed min()
    val hi = "￿"
    val sp1 = "𠀀" // U+20000
    val sp2 = "𠀁" // U+20001
    val df = Seq((hi, sp1), (sp1, sp2)).toDF("src", "dst")
    val local = solve(df, local = true).as[(String, String)].collect().toMap
    val dist = solve(df, local = false).as[(String, String)].collect().toMap
    assert(local == dist)
    assert(local.values.toSet == Set(hi), "representative must be the UTF-8 min")
  }

  test("an isolated vertex is its own component, both paths") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L).toDF("id")
    for (max <- Seq(localMax, 0L)) {
      val got = ConnectedComponents.components(edges, verts, max)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), s"localSolveMax = $max")
    }
  }

  test("vertex payload columns come back unchanged, both paths") {
    val edges = Seq(("b", "a"), ("c", "b"), ("y", "x")).toDF("src", "dst")
    val verts = Seq(("a", 1, Seq("a1")), ("b", 2, Seq.empty[String]), ("c", 3, Seq("c1", "c2")),
      ("x", 4, Seq("x1")), ("lone", 5, Seq("l"))).toDF("id", "n", "aliases")
    val want = Set(("a", 1, Seq("a1"), "a"), ("b", 2, Seq.empty[String], "a"),
      ("c", 3, Seq("c1", "c2"), "a"), ("x", 4, Seq("x1"), "x"), ("lone", 5, Seq("l"), "lone"))
    for (max <- Seq(localMax, 0L)) {
      val got = ConnectedComponents.components(edges, verts, max)
      assert(got.columns.toSeq == Seq("id", "n", "aliases", "component"), s"localSolveMax = $max")
      assert(got.as[(String, Int, Seq[String], String)].collect().toSet == want,
        s"localSolveMax = $max")
    }
  }
}
