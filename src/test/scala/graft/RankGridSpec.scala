package graft

import graft.operators.RankGrid
import org.apache.spark.sql.DataFrame

/** The rank kernel against a driver-side sorted-list brute force:
  * `below`'s strictly-less counts and `orderStats`' k-th values, in the
  * one-window and the bucketed form, on grids with nulls, negatives,
  * values over many buckets, one value, no rows, and keys that lack some
  * values — each under 1 and 4 shuffle partitions. */
class RankGridSpec extends SparkSpec {

  /** One grid row: (key, value, count c, count d). */
  type G = (Option[String], Option[Long], Long, Long)

  private def frame(rows: Seq[G]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("g", "v", "c", "d")
  }

  private def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Rows grouped as the kernel groups them: by key, or all together. */
  private def groups(rows: Seq[G], keyed: Boolean): Map[Option[String], Seq[G]] =
    rows.groupBy(r => if (keyed) r._1 else None)

  private def keyOf(r: G, keyed: Boolean) = if (keyed) r._1 else None

  /** Strictly smaller in ascending nulls-first order. */
  private def lt(a: Option[Long], b: Option[Long]): Boolean =
    Ordering[Option[Long]].lt(a, b)

  private def expectBelow(rows: Seq[G], keyed: Boolean) = {
    val byKey = groups(rows, keyed)
    rows.map { r =>
      val less = byKey(keyOf(r, keyed)).filter(o => lt(o._2, r._2))
      (r, less.map(_._3).sum, less.map(_._4).sum)
    }.toSet
  }

  type Below = (DataFrame, Seq[String], String, Seq[String]) => DataFrame
  type Stats = (DataFrame, Seq[String], String, String, DataFrame) => DataFrame

  private val forms: Seq[(String, Below, Stats)] = Seq(
    ("one-window", RankGrid.below, RankGrid.orderStats),
    ("bucketed", RankGrid.belowBucketed, RankGrid.orderStatsBucketed))

  private def gotBelow(below: Below, rows: Seq[G], keyed: Boolean) =
    below(frame(rows), if (keyed) Seq("g") else Nil, "v", Seq("c", "d"))
      .collect().map { r =>
        ((if (keyed) Option(r.getAs[String]("g")) else None,
          Option(r.getAs[java.lang.Long]("v")).map(_.longValue),
          r.getAs[Long]("c"), r.getAs[Long]("d")),
          r.getAs[Long]("c_lt"), r.getAs[Long]("d_lt"))
      }.toSet

  /** Target ranks per key: out-of-range ones (0, n + 1) included. */
  private def ranksOf(rows: Seq[G], keyed: Boolean): Seq[(Option[String], Long)] =
    groups(rows, keyed).toSeq.flatMap { case (g, rs) =>
      val n = rs.map(_._3).sum
      Seq(0L, 1L, 2L, (n + 1) / 2, n, n + 1).distinct.map(k => (g, k))
    }

  private def expectStats(rows: Seq[G], keyed: Boolean) = {
    val byKey = groups(rows, keyed)
    ranksOf(rows, keyed).flatMap { case (g, k) =>
      val sorted = byKey(g).sortBy(_._2).flatMap(r => Seq.fill(r._3.toInt)(r._2))
      if (k >= 1 && k <= sorted.size) Some((g, s"r$k", sorted((k - 1).toInt)))
      else None
    }.toSet
  }

  private def gotStats(stats: Stats, rows: Seq[G], keyed: Boolean) = {
    val s = spark
    import s.implicits._
    val rk = ranksOf(rows, keyed).map { case (g, k) => (g, s"r$k", k) }
      .toDF("g", "tag", "k")
    val ranks = if (keyed) rk else rk.drop("g")
    stats(frame(rows), if (keyed) Seq("g") else Nil, "v", "c", ranks)
      .collect().map { r =>
        (if (keyed) Option(r.getAs[String]("g")) else None,
          r.getAs[String]("tag"),
          Option(r.getAs[java.lang.Long]("v")).map(_.longValue))
      }.toSet
  }

  private def check(name: String, rows: Seq[G], keyed: Boolean = false): Unit =
    for ((form, below, stats) <- forms; parts <- Seq(1, 4))
      withPartitions(parts) {
        assert(gotBelow(below, rows, keyed) == expectBelow(rows, keyed),
          s"$form below on the $name grid, $parts partitions")
        assert(gotStats(stats, rows, keyed) == expectStats(rows, keyed),
          s"$form orderStats on the $name grid, $parts partitions")
      }

  test("null values sort first, in their own bucket") {
    check("null", Seq((None, None, 3L, 1L), (None, Some(-5L), 2L, 0L),
      (None, Some(0L), 1L, 4L), (None, Some(70000L), 5L, 2L),
      (None, Some(-70000L), 1L, 1L)))
  }

  test("negative values across bucket boundaries") {
    check("negative", (0 until 31).map { i =>
      (None, Some(-200000L + 13331L * i), (i % 5 + 1).toLong, (i % 3).toLong)
    })
  }

  test("values spread over many buckets, extremes included") {
    val rnd = new scala.util.Random(7)
    val vs = (Seq.fill(300)(rnd.nextLong() >> 20) ++
      Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 65535L, 65536L)).distinct
    check("many-bucket", vs.zipWithIndex.map { case (v, i) =>
      (None, Some(v), (i % 4 + 1).toLong, (i % 2).toLong)
    })
  }

  test("a single value and an empty grid") {
    check("single", Seq((None, Some(42L), 7L, 0L)))
    check("empty", Seq.empty[G])
    check("empty keyed", Seq.empty[G], keyed = true)
  }

  test("keyed grid where one key lacks values the others hold") {
    check("keyed", Seq(
      (Some("a"), Some(1L), 2L, 1L), (Some("a"), Some(5L), 1L, 0L),
      (Some("a"), Some(70000L), 3L, 2L), (Some("a"), Some(-3L), 1L, 1L),
      (Some("b"), Some(5L), 4L, 1L), (Some("b"), Some(-3L), 2L, 0L),
      (None, Some(2L), 1L, 3L), (None, None, 2L, 2L)), keyed = true)
  }
}
