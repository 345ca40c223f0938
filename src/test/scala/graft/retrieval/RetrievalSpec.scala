package graft.retrieval

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {

  test("multipath fan-out tags each retriever and ranks densely") {
    val fan = Retrieval.multipath(spark, sf0001, "spark join vector", kPer = 10)
    val rows = fan.collect()
    val byRetriever = rows.groupBy(_.getString(0))
    assert(byRetriever.keySet == Set("bm25", "dense"))
    byRetriever.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length))
    }
  }

  test("rrf fusion matches the reference formula") {
    val fan = Retrieval.multipath(spark, sf0001, "spark join vector", kPer = 10)
      .persist()
    val fused = Retrieval.rrf(fan, k = 5).collect()
    val local = fan.collect()
      .groupBy(_.getLong(1))
      .view.mapValues(rs => rs.map(r => 1.0 / (60 + r.getInt(3))).sum)
      .toMap
    fused.foreach { r =>
      assert(math.abs(r.getDouble(1) - local(r.getLong(0))) < 1e-12)
    }
    // ordered best-first with doc_id tie-break
    val scores = fused.map(r => (-r.getDouble(1), r.getLong(0))).toSeq
    assert(scores == scores.sorted)
    fan.unpersist()
  }

  test("threshold search returns exactly the vectors above the cutoff") {
    import spark.implicits._
    val got = Retrieval.thresholdSearch(spark, sf0001, 0L, 0.3)
      .select("vec_id").as[Long].collect().toSet
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val q = vecs.find(_._1 == 0L).get._2.map(_.toDouble).toArray
    def cos(b: Seq[Float]): Double = {
      val bb = b.map(_.toDouble).toArray
      var d = 0.0; var nq = 0.0; var nb = 0.0
      for (i <- q.indices) { d += q(i) * bb(i); nq += q(i) * q(i); nb += bb(i) * bb(i) }
      d / math.sqrt(nq * nb)
    }
    val expected = vecs.filter(v => v._1 != 0L && cos(v._2) >= 0.3).map(_._1).toSet
    assert(got == expected)
    assert(got.nonEmpty, "vacuous threshold: no vectors above the cutoff")
  }

  test("threshold search l2/ip metrics match the reference transforms") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val q = vecs.find(_._1 == 0L).get._2.map(_.toDouble).toArray
    def dot(b: Seq[Float]): Double = {
      var d = 0.0
      for (i <- q.indices) d += q(i) * b(i)
      d
    }
    def l2(b: Seq[Float]): Double = {
      var s = 0.0
      for (i <- q.indices) { val x = q(i) - b(i); s += x * x }
      math.sqrt(s)
    }
    // l2: rel = 1 - dist/sqrt(2) (VectorStoreBase.py:259-261)
    val gotL2 = Retrieval.thresholdSearch(spark, sf0001, 0L, 0.164, "l2")
      .select("vec_id").as[Long].collect().toSet
    val expL2 = vecs.filter(v => v._1 != 0L &&
      1.0 - l2(v._2) / math.sqrt(2.0) >= 0.164).map(_._1).toSet
    assert(gotL2 == expL2)
    assert(gotL2.nonEmpty, "vacuous l2 threshold")
    // ip: rel = d > 0 ? 1 - d : -d (VectorStoreBase.py:269-272)
    val gotIp = Retrieval.thresholdSearch(spark, sf0001, 0L, 0.8, "ip")
      .select("vec_id").as[Long].collect().toSet
    val expIp = vecs.filter { v =>
      val d = dot(v._2)
      v._1 != 0L && (if (d > 0) 1.0 - d else -d) >= 0.8
    }.map(_._1).toSet
    assert(gotIp == expIp)
    assert(gotIp.nonEmpty, "vacuous ip threshold")
  }

  test("rerank stub: top-k by deterministic score over batched partitions") {
    val cands = spark.range(0, 50).toDF("doc_id")
    val out = Retrieval.rerank(spark, sf0001, "spark join vector", cands, k = 10)
      .collect()
    assert(out.length == 10)
    val scores = out.map(r => (-r.getDouble(1), r.getLong(0))).toSeq
    assert(scores == scores.sorted)
    val again = Retrieval.rerank(spark, sf0001, "spark join vector", cands, k = 10)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    assert(again == out.toSeq.map(r => (r.getLong(0), r.getDouble(1))))
  }

  test("rerank accepts a custom RerankScorer without touching query code") {
    // a deployment-style scorer: rank = doc_id descending
    object ByIdScorer extends RerankScorer {
      def scoreBatch(query: String, batch: Seq[(Long, String)]): Seq[(Long, Double)] =
        batch.map { case (id, _) => (id, id.toDouble) }
    }
    val cands = spark.range(0, 30).toDF("doc_id")
    val out = Retrieval.rerank(spark, sf0001, "q", cands, k = 5,
        scorer = ByIdScorer)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(29L, 28L, 27L, 26L, 25L))
  }
}
