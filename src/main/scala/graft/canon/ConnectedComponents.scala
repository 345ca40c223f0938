package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a DataFrame edge list via the
  * large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds,
  * no GraphX/RDDs (per the north-rule input hint), no collect_list
  * (hot stars are handled with min-aggregates + joins only, so a
  * 10^7-mention star never materializes one row with 10^7 neighbors —
  * SURVEY.md §7.4 risk 3).
  *
  * Replaces the reference's server-side Louvain community detection
  * (reference Base_Neo4j.py:637-712; SURVEY.md G10 documents why CC is
  * the faithful simplification at the 0.95 threshold).
  *
  * Input: edges with columns (src, dst) of any orderable type.
  * Output: (id, component) where component = min id in the component;
  * covers every id appearing in the edge list.
  */
object ConnectedComponents {

  /** Below this edge count the component graph is solved on the driver
    * with union-find instead of the O(log n)-round distributed
    * fixpoint: each distributed round costs 2+ shuffles, which is pure
    * overhead on the small post-LSH entity graphs, while 500k edges is
    * still trivially driver-sized. The distributed path is exercised
    * by tests with localSolveMax = 0 and kicks in automatically at
    * web scale (billions of distinct names). GRAFT_CC_LOCAL_MAX
    * overrides (the bench sets 0 so the scaling evidence measures the
    * distributed fixpoint — the path a real cluster would take — even
    * when the synthetic vocabulary sits under the driver-solve cap). */
  val LocalSolveMax: Long = parseLocalSolveMax(sys.env.get("GRAFT_CC_LOCAL_MAX"))

  /** A GRAFT_CC_LOCAL_MAX value: unset or blank gives the 500k default;
    * anything but a non-negative integer falls back to it too, with a
    * stderr warning naming the value (not a JVM crash, not silently). */
  def parseLocalSolveMax(raw: Option[String]): Long = {
    val default = 500000L
    raw.map(_.trim).filter(_.nonEmpty).fold(default) { v =>
      v.toLongOption.filter(_ >= 0).getOrElse {
        Console.err.println(s"[cc] ignoring GRAFT_CC_LOCAL_MAX='$v' " +
          s"(not a non-negative integer); using $default")
        default
      }
    }
  }

  def run(edgesIn: DataFrame, maxIter: Int = 50,
      localSolveMax: Long = LocalSolveMax): DataFrame = {
    val spark = edgesIn.sparkSession

    // NO distinct here: `min`/`least` aggregates are multiplicity-
    // insensitive and the one end-of-round distinct (in the small-star
    // output below) dedups everything a round emits — each removed
    // intermediate distinct is a removed full-edge-list shuffle PER
    // ROUND (3 of them at web scale), and on vocabulary-sized graphs
    // the same exchanges are pure latency (~2 s/run measured at 248k
    // edges, parallelism-independent). Volume stays bounded: the input
    // edge set is deduped, so dup factor through a round is ≤ 2
    // (symmetrize) times join fan-out on already-unique (src, dst).
    def symmetrize(e: DataFrame): DataFrame =
      e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))

    // Single-job size gate: fetch up to localSolveMax+1 deduped edges.
    // On the small post-LSH entity graphs (every test/bench scale) this
    // replaces checkpoint + count + collect — three sequential driver
    // barriers — with ONE job; past the cap it costs one bounded fetch
    // (CollectLimitExec stops pulling partitions once the limit is hit)
    // before the O(log n)-round distributed fixpoint takes over.
    val deduped = edgesIn.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val gateN = math.min(localSolveMax, Int.MaxValue - 1L).toInt
    val grabbed = graft.pipeline.Jobs.named(spark,
      "cc: LSH-verify + size gate (single-job local path)") {
      deduped.limit(gateN + 1).collect()
    }
    if (grabbed.length <= gateN) {
      if (sys.env.contains("GRAFT_CC_VERBOSE"))
        System.err.println(s"[cc] path=local edges=${grabbed.length} gate=$gateN")
      return localSolve(edgesIn, grabbed, deduped.schema("src").dataType)
    }
    if (sys.env.contains("GRAFT_CC_VERBOSE"))
      System.err.println(s"[cc] path=distributed edges>gate=$gateN")

    var edges = graft.pipeline.Jobs.named(spark, "cc: edge dedup checkpoint") {
      deduped.localCheckpoint(true)
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // --- large-star over the symmetrized view: for each u,
      //     m = min(u, min neighbor); attach every neighbor v > u to m
      val sym = symmetrize(edges)
      val minN = sym.groupBy("src").agg(min("dst").as("mn"))
      val large = sym.join(minN, "src")
        .select(col("dst").as("u"),
          least(col("src"), col("mn")).as("v"))
        .filter(col("u") > col("src"))  // v > u per the paper
        .select(col("u").as("src"), col("v").as("dst"))
        .filter(col("src") =!= col("dst"))

      // --- small-star over edges oriented high -> low (dups ride
      // through: min() below ignores multiplicity, the round-end
      // distinct dedups the attach rows)
      val oriented = large
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
      val minLow = oriented.groupBy("src").agg(min("dst").as("mn"))
      // attach every low neighbor and u itself to m = min(lows ∪ {u})
      val attachLows = oriented.join(minLow, "src")
        .select(col("dst").as("u"), least(col("mn"), col("src")).as("v"))
      val attachSelf = minLow
        .select(col("src").as("u"), least(col("mn"), col("src")).as("v"))
      val small = graft.pipeline.Jobs.named(spark, s"cc: round ${iter + 1} star passes") {
        attachLows.union(attachSelf)
          .filter(col("u") =!= col("v"))
          .select(col("u").as("src"), col("v").as("dst"))
          .distinct()
          .localCheckpoint(true)  // cut lineage every round
      }

      // convergence: edge set stable under (count, xor-of-hashes) —
      // xor is order-independent and cannot overflow under ANSI mode.
      // Both sides signed in ONE union job (each driver barrier costs
      // more than the data at vocabulary scale).
      val t0 = System.nanoTime()
      val sigRows = edges.select(lit(0).as("side"), col("src"), col("dst"))
        .union(small.select(lit(1).as("side"), col("src"), col("dst")))
        .groupBy("side")
        .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(src, dst))").as("h"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.get(2))).toMap
      val sig = sigRows.get(1)
      val prevSig = sigRows.get(0)
      converged = sig == prevSig
      edges = small
      iter += 1
      if (sys.env.contains("GRAFT_CC_VERBOSE")) {
        System.err.println(f"[cc] iter $iter sig=$sig prev=$prevSig " +
          f"sigTime=${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }

    // final star edges: every node points at its root; roots self-map;
    // vertices that only appeared in dropped self-loops stay singletons
    val members = edges.select(col("src").as("id"), col("dst").as("component"))
    val roots = edges.select(col("dst").as("id"), col("dst").as("component"))
    val verts = edgesIn.select(col("src").as("id"))
      .union(edgesIn.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), col("id").as("component"))
    members.union(roots).union(verts)
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Driver-side union-find over an already-collected deduped edge
    * list (the size-gated fast path). Component representative is the
    * min id under the same ordering Spark's `min` uses for the column
    * type, so both paths produce identical output. */
  private def localSolve(edgesIn: DataFrame,
      collected: Array[org.apache.spark.sql.Row],
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edgesIn.sparkSession
    // must match the ordering the distributed path's min() uses:
    // strings compare in UTF-8/code-point order (Java compareTo
    // disagrees on supplementary-plane chars); other orderable types
    // via their natural Comparable order
    val lt: (Any, Any) => Boolean = dt match {
      case org.apache.spark.sql.types.StringType =>
        (a, b) => graft.text.Chars.utf8Lt(a.asInstanceOf[String], b.asInstanceOf[String])
      case _ =>
        (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    collected.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val ids = parent.keySet ++ parent.values
    // second pass: representative = min member (union order above keeps
    // roots minimal already since we always parent the larger root)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.size)
    ids.foreach(id => rows.add(org.apache.spark.sql.Row(id, find(id))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("component", dt)))
    val local = spark.createDataFrame(rows, schema)
    // vertices that only appeared in self-loops stay singletons
    val verts = edgesIn.select(col("src").as("id"))
      .union(edgesIn.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), col("id").as("component"))
    local.union(verts).groupBy("id").agg(min("component").as("component"))
  }

  /** Components including singleton vertices from `vertices(id)`. */
  def runWithVertices(edges: DataFrame, vertices: DataFrame,
      localSolveMax: Long = LocalSolveMax): DataFrame = {
    val cc = run(edges, localSolveMax = localSolveMax)
    vertices.select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }
}
