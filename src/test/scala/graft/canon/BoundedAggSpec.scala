package graft.canon

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class BoundedAggSpec extends SparkSpec {

  test("distinctMin equals slice(sort_array(collect_set))") {
    import spark.implicits._
    // groups with duplicates, skew (one hot group), nulls absent by schema
    val rows = (0 until 5000).map { i =>
      val g = if (i % 3 == 0) "hot" else s"g${i % 17}"
      (g, f"v${(i * 7919) % 200}%03d")
    }
    val df = rows.toDF("g", "v").repartition(7)
    val a = df.groupBy("g")
      .agg(BoundedAgg.distinctMin(col("v"), 8).as("s"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val b = df.groupBy("g")
      .agg(slice(sort_array(collect_set("v")), 1, 8).as("s"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getSeq[String](1)))
    assert(a.toSeq == b.toSeq)
  }

  test("distinctMin matches Spark ordering on supplementary-plane strings") {
    import spark.implicits._
    // U+FFFF sorts BEFORE U+20000 in UTF-8/code-point order but AFTER
    // it under Java compareTo — the cap must cut the same way Spark's
    // sort_array does
    val vals = Seq("a", "￿", "𠀀", "", "b", "𠀁")
    val df = vals.map(("g", _)).toDF("g", "v")
    val a = df.groupBy("g").agg(BoundedAgg.distinctMin(col("v"), 3).as("s"))
      .head().getSeq[String](1)
    val b = df.groupBy("g").agg(slice(sort_array(collect_set("v")), 1, 3).as("s"))
      .head().getSeq[String](1)
    assert(a == b)
  }

  test("two-phase distinctMinFlat equals single-phase over the union") {
    import spark.implicits._
    val rows = (0 until 3000).map(i => (s"k${i % 5}", i % 13, f"c${i % 40}%02d"))
    val df = rows.toDF("k", "salt", "v").repartition(5)
    val twoPhase = df.groupBy("k", "salt")
      .agg(BoundedAgg.distinctMin(col("v"), 8).as("partial"))
      .groupBy("k")
      .agg(BoundedAgg.distinctMinFlat(col("partial"), 8).as("s"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val onePhase = df.groupBy("k")
      .agg(slice(sort_array(collect_set("v")), 1, 8).as("s"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getSeq[String](1)))
    assert(twoPhase.toSeq == onePhase.toSeq)
  }

  test("property: two-phase distinctMin -> distinctMinFlat equals single-phase, any salts, partitions and cap") {
    import spark.implicits._
    // the G12 names aggregate's shape: partial caps per (key, salt), the
    // merge caps per key. Values mix supplementary-plane strings (whose
    // UTF-8 order differs from compareTo) and NULLs (skipped by both)
    val pool = Seq("a", "b", "c0", "c1", "", "￿", "𠀀", "𠀁", "zz", "Z")
    val cases = for {
      salts <- Gen.choose(1, 8)
      parts <- Gen.choose(1, 8)
      rows <- Gen.listOf(Gen.zip(Gen.oneOf("k0", "k1", "k2"), Gen.choose(0, salts - 1),
        Gen.option(Gen.oneOf(pool))))
      // caps from 1 up to above the largest group's distinct count
      cap <- Gen.choose(1, rows.flatMap(_._3).distinct.size + 2)
    } yield (rows, parts, cap)
    def twoPhaseEqualsOnePhase(rows: List[(String, Int, Option[String])], parts: Int,
        cap: Int): Boolean = {
      val df = rows.toDF("k", "salt", "v").repartition(parts)
      val twoPhase = df.groupBy("k", "salt")
        .agg(BoundedAgg.distinctMin(col("v"), cap).as("partial"))
        .groupBy("k").agg(BoundedAgg.distinctMinFlat(col("partial"), cap).as("s"))
      val onePhase = df.groupBy("k").agg(slice(sort_array(collect_set("v")), 1, cap).as("s"))
      def rowsOf(r: org.apache.spark.sql.DataFrame) =
        r.collect().map(x => x.getString(0) -> x.getSeq[String](1)).toMap
      rowsOf(twoPhase) == rowsOf(onePhase)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(29L)),
      Prop.forAll(cases) { case (rows, parts, cap) => twoPhaseEqualsOnePhase(rows, parts, cap) })
    assert(result.passed, result.status.toString)
  }

  test("allOrNothing: full member set at cap, NULL at cap + 1, NULLs skipped, any partitioning") {
    import spark.implicits._
    val cap = 5
    // group "at" holds exactly cap distinct members plus NULL strings
    // (skipped, so they do not count); group "over" holds cap + 1
    val strs = (1 to cap).map(i => ("at", s"m$i")) ++
      Seq(("at", null), ("at", null)) ++
      (1 to cap + 1).map(i => ("over", s"m$i"))
    val longs = (1 to cap).map(i => ("at", i.toLong)) ++
      (1 to cap + 1).map(i => ("over", i.toLong))
    for (parts <- Seq(1, 4)) {
      val byStr = strs.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(BoundedAgg.allOrNothing[String](col("v"), cap).as("ms"))
        .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
      assert(byStr("at").map(_.toSet) == Some((1 to cap).map(i => s"m$i").toSet), s"$parts")
      assert(byStr("at").get.size == cap, s"$parts")
      assert(byStr("over").isEmpty, s"$parts")
      val byLong = longs.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(BoundedAgg.allOrNothing[Long](col("v"), cap).as("ms"))
        .collect().map(r => r.getString(0) -> Option(r.getSeq[Long](1))).toMap
      assert(byLong("at").map(_.toSet) == Some((1 to cap).map(_.toLong).toSet), s"$parts")
      assert(byLong("at").get.size == cap, s"$parts")
      assert(byLong("over").isEmpty, s"$parts")
    }
  }
}
