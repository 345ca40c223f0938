package graft.ops

import graft.SparkSpec

class AsofJoinSpec extends SparkSpec {

  private def mk(rows: Seq[(Long, Long, Long)], names: (String, String, String)) = {
    import spark.implicits._
    rows.toDF(names._1, names._2, names._3)
  }

  test("as-of join picks latest right row at or before left ts, per key") {
    import spark.implicits._
    val left = mk(Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 15L, 102L)),
      ("k", "lts", "lid"))
    val right = mk(Seq((1L, 5L, 500L), (1L, 10L, 510L), (1L, 18L, 518L),
      (2L, 99L, 599L)), ("k", "rts", "rid"))
    val got = AsofJoin.asofJoin(left, right, Seq("k"), "lts", "rts", Seq("rid"))
      .select("k", "lid", "rid").as[(Long, Long, Option[Long])].collect().toSet
    assert(got == Set(
      (1L, 100L, Some(510L)),  // equal ts counts as "at or before"
      (1L, 101L, Some(518L)),  // latest prior, not first
      (2L, 102L, None)))       // right row is in the future -> no match
  }

  test("left rows on a key absent from the right side survive with nulls") {
    import spark.implicits._
    val left = mk(Seq((7L, 1L, 1L)), ("k", "lts", "lid"))
    val right = mk(Seq((8L, 1L, 2L)), ("k", "rts", "rid"))
    val got = AsofJoin.asofJoin(left, right, Seq("k"), "lts", "rts", Seq("rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toSeq
    assert(got == Seq((1L, None)))
  }

  test("as-of join matches brute force on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val left = (0 until 300).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(100).toLong, i.toLong))
    // right side unique per (key, ts) — the determinism precondition
    val right = (0 until 200).map(_ => (rnd.nextInt(8).toLong, rnd.nextInt(100).toLong))
      .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
    val got = AsofJoin.asofJoin(
        left.toDF("k", "lts", "lid"), right.toDF("k", "rts", "rid"),
        Seq("k"), "lts", "rts", Seq("rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toSet
    val expected = left.map { case (k, lts, lid) =>
      val cands = right.filter(r => r._1 == k && r._2 <= lts)
      (lid, if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
    }.toSet
    assert(got == expected)
  }

  test("click->prior-purchase matches a local oracle on the events table") {
    import spark.implicits._
    val got = AsofJoin.clickToPriorPurchase(spark, sf0001)
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    // local single-threaded oracle over the same parquet
    // microsecond precision: the implementation compares full-precision
    // timestamps, so a millisecond-truncated oracle could only agree by
    // data luck (no same-milli collisions); micros is parquet ts precision
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "user_id", "ts", "event_type", "value")
      .collect()
      .map { r =>
        val i = r.getAs[java.time.LocalDateTime](2).toInstant(java.time.ZoneOffset.UTC)
        (r.getLong(0), r.getLong(1),
          i.getEpochSecond * 1000000L + i.getNano / 1000L,
          r.getString(3), r.getDouble(4))
      }
    val purchases = ev.filter(_._4 == "purchase")
      .groupBy(p => (p._2, p._3)).map { case (_, ps) =>
        val best = ps.maxBy(_._1); (best._2, best._3, best._1, best._5)
      }.toSeq
    val expected = ev.filter(_._4 == "click").map { c =>
      val prior = purchases.filter(p => p._1 == c._2 && p._2 <= c._3)
      if (prior.isEmpty) (c._1, c._2, None: Option[Long], None: Option[Double])
      else {
        val b = prior.maxBy(p => (p._2, p._3))
        (c._1, c._2, Some(b._3),
          Some(BigDecimal(b._4).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toSet
    assert(got == expected)
  }
}
