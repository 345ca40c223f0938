package graft.lsh

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class BlockingSpec extends SparkSpec {

  test("pairs: NULL lists yield nothing, only a < b, one pair per sharing list") {
    import spark.implicits._
    def pairs(lists: Seq[Option[Seq[Long]]]): Seq[(Long, Long)] =
      Blocking.pairs(lists.toDF("ms"), "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the nested-loop reference
    def reference(lists: Seq[Option[Seq[Long]]]): Seq[(Long, Long)] =
      (for (ms <- lists.flatten; a <- ms; b <- ms if a < b) yield (a, b)).sorted
    // explicit example: (1, 2) is in two lists, so it comes out twice
    // before distinct; None is an over-cap band
    assert(pairs(Seq(Some(Seq(3L, 1L, 2L)), None, Some(Seq(2L, 1L)), Some(Seq(7L))))
      == Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(Seq(None)).isEmpty)
    // random lists over a small id range, so pairs are often shared by
    // several lists; NULL lists included
    val lists = Gen.listOf(Gen.option(Gen.listOf(Gen.choose(0L, 12L))))
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(13L)),
      Prop.forAll(lists)(ls => pairs(ls) == reference(ls)))
    assert(result.passed, result.status.toString)
  }
}
