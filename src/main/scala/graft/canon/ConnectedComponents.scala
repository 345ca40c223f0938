package graft.canon

import graft.pipeline.Jobs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

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
  * One entry point, [[components]]: edges (src, dst) of any orderable
  * type and a vertex frame keyed by `id` in; the vertex frame with
  * each vertex's component (the min id in it) out.
  */
object ConnectedComponents {

  /** At or under this edge count the component graph is solved on the driver
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

  /** Round cap of the distributed fixpoint; it converges in O(log n). */
  private val MaxRounds = 50

  /** `vertices` (an `id` column plus any payload columns, id first in
    * the output) with a `component` column added: the min id of the
    * vertex's component over `edges` (src, dst). An id that no non-loop
    * edge touches is its own component; edge endpoints that are not in
    * `vertices` are dropped.
    *
    * The deduped non-loop edges are checkpointed ONCE, under the
    * caller's job label, and counted in that same job. At or under
    * `localSolveMax` edges the checkpoint is collected and solved on the
    * driver; above it the star rounds start from that same checkpoint. */
  def components(edges: DataFrame, vertices: DataFrame,
      localSolveMax: Long): DataFrame = {
    val spark = edges.sparkSession
    val (deduped, n) = Jobs.countedCheckpoint(
      edges.filter(col("src") =!= col("dst")).select("src", "dst").distinct())
    val map =
      if (n <= localSolveMax) localSolve(spark,
        Jobs.named(spark, "cc: edge collect for the driver union-find")(deduped.collect()),
        deduped.schema("src").dataType)
      else starRounds(deduped)
    vertices.join(map, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
  }

  /** Large-star / small-star rounds from the deduped edge checkpoint to
    * the (id, component) map of every id an edge touches. */
  private def starRounds(deduped: DataFrame): DataFrame = {
    val spark = deduped.sparkSession

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

    var edges = deduped
    var converged = false
    var round = 0
    while (!converged && round < MaxRounds) {
      round += 1
      Jobs.named(spark, s"cc: round $round star passes") {
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
        val small = attachLows.union(attachSelf)
          .filter(col("u") =!= col("v"))
          .select(col("u").as("src"), col("v").as("dst"))
          .distinct()
          .localCheckpoint(true)  // cut lineage every round

        // convergence: edge set stable under (count, xor-of-hashes) —
        // xor is order-independent and cannot overflow under ANSI mode.
        // Both sides signed in ONE union job (each driver barrier costs
        // more than the data at vocabulary scale).
        val sig = edges.select(lit(0).as("side"), col("src"), col("dst"))
          .union(small.select(lit(1).as("side"), col("src"), col("dst")))
          .groupBy("side")
          .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(src, dst))").as("h"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.get(2))).toMap
        converged = sig.get(1) == sig.get(0)
        edges = small
      }
    }

    // final star edges: every node points at its root; roots self-map.
    // Checkpointed: the caller's consumers each read the vertex join.
    Jobs.named(spark, "cc: component map checkpoint") {
      edges.select(col("src").as("id"), col("dst").as("component"))
        .union(edges.select(col("dst").as("id"), col("dst").as("component")))
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint(true)
    }
  }

  /** Driver-side union-find over an already-collected deduped edge
    * list (the size-gated fast path). Component representative is the
    * min id under the same ordering Spark's `min` uses for the column
    * type, so both paths produce identical output. */
  private def localSolve(spark: SparkSession, collected: Array[Row],
      dt: DataType): DataFrame = {
    // must match the ordering the distributed path's min() uses:
    // strings compare in UTF-8/code-point order (Java compareTo
    // disagrees on supplementary-plane chars); other orderable types
    // via their natural Comparable order
    val lt: (Any, Any) => Boolean = dt match {
      case StringType =>
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
    val rows = new java.util.ArrayList[Row](ids.size)
    ids.foreach(id => rows.add(Row(id, find(id))))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", dt), StructField("component", dt))))
  }
}
