package perfbench

import graft.embed.HashingEmbedder.mix64
import graft.pages.{Page, PagesGenerator}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded inputs. Every row is a pure function of (seed, row), so the
  * same seed gives the same table at any parallelism. The program only
  * ever sees the written pages table. */
object Inputs {

  private def h(seed: Long, a: Long, b: Long): Long =
    mix64(mix64(seed * 0x9E3779B97F4A7C15L ^ a) ^ b)

  private def below(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)

  /** Share of crawl rows that re-host another row's html under a new url. */
  val MirrorShare = 0.30

  /** Web-crawl shape: `PagesGenerator.page` over a seed-selected id
    * window, with a seeded 30% of rows re-hosting another row's html. */
  def crawlPage(seed: Long, n: Long, row: Long): Page = {
    val base = 1000000L + below(h(seed, 1, 0), 50000000L)
    val mirrored = below(h(seed, 2, row), 1000L) < (MirrorShare * 1000).toLong
    val src = if (mirrored) below(h(seed, 3, row), n) else row
    val p = PagesGenerator.page(base + src)
    if (!mirrored) p
    else p.copy(url = f"https://mirror${below(h(seed, 4, row), 97L)}%02d.test/copy/$row%06d")
  }

  def pages(spark: SparkSession, seed: Long, n: Long,
      partitions: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(r => crawlPage(seed, n, r))
  }

  /** Write the pages table; returns its path. */
  def write(spark: SparkSession, seed: Long, n: Long,
      partitions: Int, dir: String): String = {
    pages(spark, seed, n, partitions).write.mode("overwrite").parquet(dir)
    dir
  }
}
