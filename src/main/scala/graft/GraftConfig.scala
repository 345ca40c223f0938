package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Typed pipeline configuration — the Spark-native form of the
  * reference's config registry (reference framework/config.py:11-88 +
  * framework/register.py:7-26: a tagged-union of per-component config
  * dataclasses resolved by registry name). A Spark job has no runtime
  * component registry to interrogate; the equivalent surface is one
  * immutable case class of knobs carried down the DAG builders, parsed
  * from `--key=value` CLI flags by [[GraftConfig.fromArgs]].
  *
  * Defaults reproduce the reference constants where one exists
  * (merge cosine 0.95: Base_Neo4j.py:538; event KNN topK=10 /
  * cutoff=0.85: event_graphrag_neo4j.py:641-646) and this engine's
  * measured scale caps everywhere else (SURVEY.md §4.3, BASELINE.md
  * round-3 banding evidence). Every default is asserted unchanged in
  * GraftConfigSpec, so a flag regression cannot silently retune the
  * pipeline.
  *
  * @param mergeThreshold G9 exact-verify gate: candidate name pairs
  *   merge when hashing-embedder cosine >= this
  * @param eventKnnTopK   G13 SIMILAR_TO edges kept per event
  * @param eventKnnCutoff G13 cosine floor for event similarity
  * @param nameBands      G9 MinHash-LSH bands over the 128-hash name
  *   signature (16x8 per the 4M-page candidate-volume measurement)
  * @param nameRows       rows per band for the name banding
  * @param salts          salt fan-out of the hot-key two-phase aggs
  *   (G12 name agg, G5 edge agg)
  * @param listCap        bound on accumulated list properties
  *   (descriptions / source_chunks) per entity or edge
  * @param maxBandSize    hot-band guard: band keys shared by more
  *   distinct names than this are dropped as degenerate
  * @param broadcastNameMapMax  the cap of the one broadcast-size gate,
  *   [[GraftConfig.broadcastGate]], over the G5 name map, the G9
  *   display-name lookup and the integrity id sets. Its row counts come
  *   from `KGJob`'s stage footers (`Lineage.rows`), the in-memory
  *   checkpoints' own jobs (`Jobs.countedCheckpoint`) and `integrity`'s caller
  * @param ccLocalSolveMax  edge count at or below which connected
  *   components solve on the driver (union-find) instead of the
  *   distributed large-star/small-star fixpoint; defaults to the
  *   GRAFT_CC_LOCAL_MAX environment override when set
  */
final case class GraftConfig(
    mergeThreshold: Double = 0.95,
    eventKnnTopK: Int = 10,
    eventKnnCutoff: Double = 0.85,
    nameBands: Int = 16,
    nameRows: Int = 8,
    salts: Int = 16,
    listCap: Int = 64,
    maxBandSize: Int = 10000,
    broadcastNameMapMax: Long = 5000000L,
    ccLocalSolveMax: Long = graft.canon.ConnectedComponents.LocalSolveMax)

object GraftConfig {
  val default: GraftConfig = GraftConfig()

  /** The one broadcast-size gate: a lookup whose row count is known and
    * at most `cfg.broadcastNameMapMax` gets a `broadcast()` hint; a
    * larger or unknown count adds nothing and leaves the join to Spark's
    * planner and AQE's runtime conversion. It never counts. */
  def broadcastGate(df: DataFrame, rows: Option[Long], cfg: GraftConfig): DataFrame =
    if (rows.exists(_ <= cfg.broadcastNameMapMax)) broadcast(df) else df

  /** Parse `--key=value` flags (kebab-case keys, one per field) into a
    * config; non-flag args pass through in order as the second member.
    * Unknown flags and unparsable values throw — a job launched with a
    * typo'd tuning flag must fail fast, not run detuned. */
  def fromArgs(args: Seq[String]): (GraftConfig, Seq[String]) = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val cfg = flags.foldLeft(default) { (c, f) =>
      val eq = f.indexOf('=')
      require(eq > 2, s"malformed flag '$f' (expected --key=value)")
      val (k, v) = (f.substring(2, eq), f.substring(eq + 1))
      try k match {
        case "merge-threshold" => c.copy(mergeThreshold = v.toDouble)
        case "event-knn-topk" => c.copy(eventKnnTopK = v.toInt)
        case "event-knn-cutoff" => c.copy(eventKnnCutoff = v.toDouble)
        case "name-bands" => c.copy(nameBands = v.toInt)
        case "name-rows" => c.copy(nameRows = v.toInt)
        case "salts" => c.copy(salts = v.toInt)
        case "list-cap" => c.copy(listCap = v.toInt)
        case "max-band-size" => c.copy(maxBandSize = v.toInt)
        case "broadcast-name-map-max" => c.copy(broadcastNameMapMax = v.toLong)
        case "cc-local-max" => c.copy(ccLocalSolveMax = v.toLong)
        case other =>
          throw new IllegalArgumentException(s"unknown flag --$other")
      } catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad value for --$k: '$v'")
      }
    }
    // range validation — fail fast at parse time, not as an executor
    // crash deep inside an aggregation (the BoundedAgg cap) or a
    // degenerate banding
    require(cfg.mergeThreshold > 0 && cfg.mergeThreshold <= 1,
      s"--merge-threshold must be in (0, 1]: ${cfg.mergeThreshold}")
    require(cfg.eventKnnCutoff >= -1 && cfg.eventKnnCutoff <= 1,
      s"--event-knn-cutoff must be a cosine in [-1, 1]: ${cfg.eventKnnCutoff}")
    for ((n, v) <- Seq("event-knn-topk" -> cfg.eventKnnTopK,
        "name-bands" -> cfg.nameBands, "name-rows" -> cfg.nameRows,
        "salts" -> cfg.salts, "list-cap" -> cfg.listCap,
        "max-band-size" -> cfg.maxBandSize))
      require(v > 0, s"--$n must be positive: $v")
    for ((n, v) <- Seq(
        "broadcast-name-map-max" -> cfg.broadcastNameMapMax,
        "cc-local-max" -> cfg.ccLocalSolveMax))
      require(v >= 0, s"--$n must be non-negative: $v")
    // joint constraint: the banding consumes bands x rows minhash
    // positions out of a NumHashes-long signature — individually-valid
    // values like 32 x 8 would otherwise pass here and abort executor-
    // side in bandsUdf hours into the extraction front
    require(cfg.nameBands * cfg.nameRows <= graft.lsh.MinHasher.NumHashes,
      s"--name-bands x --name-rows must be <= ${graft.lsh.MinHasher.NumHashes}" +
        s" signature positions: ${cfg.nameBands} x ${cfg.nameRows}")
    (cfg, rest)
  }
}
