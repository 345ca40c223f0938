package graft.lsh

import graft.SparkSpec

class BlockingSpec extends SparkSpec {

  test("pairs: NULL lists yield nothing, only a < b, one pair per sharing list") {
    import spark.implicits._
    val lists = Seq(
      Some(Seq(3L, 1L, 2L)),
      None, // an over-cap band
      Some(Seq(2L, 1L)),
      Some(Seq(7L))
    ).toDF("ms")
    val got = Blocking.pairs(lists, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // (1, 2) is in two lists, so it comes out twice before distinct
    assert(got == Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)))
    assert(Blocking.pairs(Seq(Option.empty[Seq[Long]]).toDF("ms"), "a", "b")
      .isEmpty)
  }
}
