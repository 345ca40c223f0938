package graft

import graft.canon.Canonicalizer

/** The typed flags surface (reference framework/config.py:11-88): the
  * defaults are pinned so a parser change cannot silently retune the
  * pipeline, and one end-to-end case proves a flag actually reaches the
  * operator it names. */
class GraftConfigSpec extends SparkSpec {

  test("defaults reproduce the documented constants") {
    val c = GraftConfig.default
    assert(c.mergeThreshold == 0.95)     // Base_Neo4j.py:538
    assert(c.eventKnnTopK == 10)         // event_graphrag_neo4j.py:641
    assert(c.eventKnnCutoff == 0.85)     // event_graphrag_neo4j.py:646
    assert(c.nameBands == 16 && c.nameRows == 8)
    assert(c.salts == 16 && c.listCap == 64 && c.maxBandSize == 10000)
    assert(c.broadcastNameMapMax == 5000000L)
    // env-aware default: tests run without GRAFT_CC_LOCAL_MAX
    if (!sys.env.contains("GRAFT_CC_LOCAL_MAX"))
      assert(c.ccLocalSolveMax == 500000L)
  }

  test("fromArgs parses every flag and passes positionals through") {
    val (c, rest) = GraftConfig.fromArgs(Seq(
      "4000000", "--merge-threshold=0.97", "/tmp/out", "--event-knn-topk=5",
      "--event-knn-cutoff=0.9", "--name-bands=32", "--name-rows=4",
      "--salts=8", "--list-cap=16", "--max-band-size=500",
      "--broadcast-name-map-max=1000", "--cc-local-max=0", "resume"))
    assert(c == GraftConfig(0.97, 5, 0.9, 32, 4, 8, 16, 500, 1000L, 0L))
    assert(rest == Seq("4000000", "/tmp/out", "resume"))
  }

  test("unknown flags and bad values fail fast") {
    intercept[IllegalArgumentException](
      GraftConfig.fromArgs(Seq("--merge-treshold=0.9")))
    intercept[IllegalArgumentException](
      GraftConfig.fromArgs(Seq("--salts=many")))
    intercept[IllegalArgumentException](
      GraftConfig.fromArgs(Seq("--salts")))
  }

  test("mergeThreshold flag reaches the G9 verify gate") {
    import spark.implicits._
    // different name_key (G12 keeps them apart: "-" vs " ") but
    // identical embedKey => cosine exactly 1.0: merges at the default
    // 0.95 gate, cannot merge at an unreachable threshold
    val mentions = Seq(
      ("chunk_a", 0, "Spark Engine", "TECH", "d1"),
      ("chunk_b", 0, "Spark-Engine", "TECH", "d2"))
      .toDF("chunkId", "ord", "entityName", "entityType", "entityDescription")
    val (merged, mapDefault) = Canonicalizer.canonicalize(Canonicalizer.names(mentions), None)
    assert(merged.count() == 1)
    assert(mapDefault.select("canonical_id").distinct().count() == 1)
    val strict = GraftConfig(mergeThreshold = 1.5)
    val (split, mapStrict) = Canonicalizer.canonicalize(Canonicalizer.names(mentions, strict),
      None, strict)
    assert(split.count() == 2)
    assert(mapStrict.select("canonical_id").distinct().count() == 2)
  }

  test("CLI flags reach the SparkEntry kg pipeline (the Verify/Bench path)") {
    // the exact wiring the driver-facing mains use: argv -> fromArgs ->
    // SparkEntry.config -> kg pipeline build (round-4 verdict #5).
    // "sf0.0001" maps to the 100-page floor — small enough for a test,
    // large enough that near-identical generated names exist whose
    // merge is threshold-sensitive.
    val prev = SparkEntry.config
    try {
      val (sfDir, outDir) = Verify.configure(
        Array("--merge-threshold=0.05", "sf0.0001_cli", "/tmp/cli_out"))
      assert((sfDir, outDir) == ("sf0.0001_cli", "/tmp/cli_out"))
      assert(SparkEntry.config.mergeThreshold == 0.05)
      val loose = SparkEntry.queries("kg_entities")(spark, sfDir).count()
      SparkEntry.config = GraftConfig.default
      val strict = SparkEntry.queries("kg_entities")(spark, sfDir).count()
      assert(loose < strict,
        s"merge-threshold=0.05 produced $loose entities vs $strict at " +
          "default — the CLI flag did not reach canonicalize")
    } finally SparkEntry.config = prev
  }

  test("SparkEntry.entry builds its graph under SparkEntry.config") {
    // aim 3: no decision keyed on the default config when the run's
    // config differs — entry must build under the CLI-set config
    val cfg = GraftConfig(mergeThreshold = 0.05)
    def edgesOf(r: graft.pipeline.KGPipeline.Result): Seq[String] =
      SparkEntry.namedEdges(r).collect().map(_.toString).sorted.toSeq
    val atDefault = edgesOf(graft.pipeline.KGPipeline.run(spark, 200, partitions = 8))
    val atCfg = edgesOf(graft.pipeline.KGPipeline.run(spark, 200, partitions = 8, cfg = cfg))
    assert(atCfg != atDefault, "the config leaves entry's output unchanged — vacuous")
    val prev = SparkEntry.config
    try {
      SparkEntry.config = cfg
      assert(SparkEntry.entry(spark).collect().map(_.toString).sorted.toSeq == atCfg)
    } finally SparkEntry.config = prev
  }
}
