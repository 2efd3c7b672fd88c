package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The rank kernel behind the exact rank, ECDF and order-statistic
  * operators: cumulative counts over a VALUE-GROUPED grid (one row per
  * (keys…, v), never a row-level sort), in two forms with the same
  * answers.
  *
  * - [[below]] / [[orderStats]]: one running-sum window partitioned by
  *   the keys. For grids whose rows the value DOMAIN bounds at any scale
  *   (days of week, quantities 1..50, length octaves, calendar days,
  *   event cents below 2^16, i.e. one bucket): one sort of such a grid
  *   costs less than the bucketed form's extra query stages.
  * - [[belowBucketed]] / [[orderStatsBucketed]]: the two-level form, for
  *   grids whose distinct values grow with the data (order-total and
  *   extended-price cents, Walsh sums) and so span many buckets. Values
  *   bucket by the monotone arithmetic shift `v >> BucketShift` (floor
  *   division by 2^BucketShift, negatives included — every value of
  *   bucket b precedes every value of bucket b+1). The running sum runs
  *   over the per-(keys, bucket) rollup, which the value RANGE bounds,
  *   not the grid; the per-value windows are partitioned by
  *   (keys, bucket), and the rollup joins back by broadcast.
  *
  * Every sum is an exact integer, so the form and the bucket width move
  * only the task layout, never an answer. Null values sort first (in the
  * bucketed forms they form their own bucket), as an ascending
  * `Window.orderBy` orders them; keys and buckets join null-safely. */
private[graft] object RankGrid {

  /** log2 of the bucketed forms' bucket width. */
  private val BucketShift = 16

  /** The bucket column the bucketed forms' rollup windows order by. */
  private[graft] val Bkt = "__rg_bkt"

  /** The bucket of a value: floor(v / 2^BucketShift). */
  private[graft] def bucket(v: Column): Column = shiftright(v, BucketShift)

  /** Null-safe equality of `cols` between the aliased frames `l`, `r`. */
  private def eqOn(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduceOption(_ && _)
      .getOrElse(lit(true))

  /** For the value-grouped `grid` (keys…, v, counts…, any other
    * columns), returns it with one `c_lt` per count column `c`: the sum
    * of `c` over the rows with the same `keys` and a strictly smaller
    * `v`. "≤" is `c_lt + c`; totals are the caller's. One running-sum
    * window partitioned by `keys`. */
  def below(grid: DataFrame, keys: Seq[String], v: String,
            counts: Seq[String]): DataFrame = {
    val lt = Window.partitionBy(keys.map(col): _*).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid.select(col("*") +: counts.map(c =>
      coalesce(sum(col(c)).over(lt), lit(0L)).as(s"${c}_lt")): _*)
  }

  /** [[below]] in the two-level form. The per-value windows also read
    * each bucket's total, so the rollup comes off their (keys, bucket)
    * exchange and the grid is shuffled once; the rollup's own running
    * sum is [[below]] over the buckets. */
  def belowBucketed(grid: DataFrame, keys: Seq[String], v: String,
                    counts: Seq[String]): DataFrame = {
    val kb = keys :+ Bkt
    val bt = counts.map(c => s"__bt_$c")
    val inB = below(grid.withColumn(Bkt, bucket(col(v))), kb, v, counts)
      .select(col("*") +: counts.zip(bt).map { case (c, t) =>
        sum(col(c)).over(Window.partitionBy(kb.map(col): _*)).as(t) }: _*)
    val totals = bt.map(t => max(col(t)).as(t))
    val cumB = below(inB.groupBy(kb.map(col): _*).agg(totals.head, totals.tail: _*),
      keys, Bkt, bt)
    inB.as("g").join(broadcast(cumB.as("b")), eqOn("g", "b", kb))
      .select(grid.columns.toSeq.map(c => col(s"g.$c")) ++ counts.zip(bt).map {
        case (c, t) => (col(s"g.${c}_lt") + col(s"b.${t}_lt")).as(s"${c}_lt")
      }: _*)
  }

  /** The value at 1-based rank `k` of the value-grouped `grid` (counts in
    * `cnt`), per row of `ranks`: a frame of the `keys`, a `k` column and
    * any tag columns (distinct rows; no column named `v` or `cnt`).
    * Returns every column of `ranks` plus `v`; a rank outside 1..n of
    * its keys yields no row. Rank-bracket selection: [[below]]'s
    * cumulative counts, and the broadcast ranks join the value whose
    * bracket (cnt_lt, cnt_lt + cnt] holds `k`. */
  def orderStats(grid: DataFrame, keys: Seq[String], v: String, cnt: String,
                 ranks: DataFrame): DataFrame = {
    val lt = col(s"g.${cnt}_lt")
    below(grid.select((keys :+ v :+ cnt).map(col): _*), keys, v, Seq(cnt))
      .as("g").join(broadcast(ranks.as("r")), eqOn("g", "r", keys) &&
        col("r.k") > lt && col("r.k") <= lt + col(s"g.$cnt"))
      .select(ranks.columns.toSeq.map(c => col(s"r.$c")) :+ col(s"g.$v"): _*)
  }

  /** [[orderStats]] in the two-level form: the rollup's cumulative
    * counts locate the bucket that holds each target rank, and only
    * those buckets are windowed, one window partition per rank row. */
  def orderStatsBucketed(grid: DataFrame, keys: Seq[String], v: String,
                         cnt: String, ranks: DataFrame): DataFrame = {
    val byB = grid.select((keys :+ v :+ cnt).map(col): _*)
      .withColumn(Bkt, bucket(col(v)))
    val kb = keys :+ Bkt
    val cumB = below(byB.groupBy(kb.map(col): _*)
      .agg(sum(col(cnt)).as("__bc")), keys, Bkt, Seq("__bc"))
    val rc = ranks.columns.toSeq
    val hit = ranks.as("r").join(broadcast(cumB.as("b")),
        eqOn("r", "b", keys) && col("r.k") > col("b.__bc_lt") &&
          col("r.k") <= col("b.__bc_lt") + col("b.__bc"))
      .select(rc.map(c => col(s"r.$c")) :+ col(s"b.$Bkt") :+ col("b.__bc_lt"): _*)
    val inHit = byB.as("g").join(broadcast(hit.as("h")), eqOn("g", "h", kb))
      .select(rc.map(c => col(s"h.$c")) ++
        Seq(col(s"g.$v"), col(s"g.$cnt"), col("h.__bc_lt")): _*)
    val lo = col("__bc_lt") + col(s"${cnt}_lt")
    below(inHit, rc, v, Seq(cnt))
      .filter(col("k") > lo && col("k") <= lo + col(cnt))
      .select(rc.map(col) :+ col(v): _*)
  }

  /** Exact type-7 quartiles (p25, p50, p75, p90) per `keys`, given the
    * per-keys row counts `n` (keys…, n) and the order-statistic
    * selection `select` over the grid ([[orderStats]] or
    * [[orderStatsBucketed]] with grid, keys, "v", "cnt" applied): it maps
    * a ranks frame to its rows plus `v`. The position (n−1)·num/den is
    * exact integer arithmetic (idx, rem); the two bracketing order
    * statistics come from `select`, and the interpolated value is ONE
    * IEEE division of an exact integer numerator:
    * (v_lo·(den−rem) + v_hi·rem)/den — bit-identical in any engine that
    * replays the same formula. Returns (keys…, p25, p50, p75, p90); one
    * all-null row when `keys` is empty and the grid is. */
  def quartiles(keys: Seq[String], n: DataFrame)(
      select: DataFrame => DataFrame): DataFrame = {
    val spark = n.sparkSession
    import spark.implicits._
    val qs = Seq(("p25", 1L, 4L), ("p50", 1L, 2L),
      ("p75", 3L, 4L), ("p90", 9L, 10L)).toDF("qname", "num", "den")
    // 1-based ranks of the two bracketing order statistics per quartile:
    // klo = floor((n-1)·num/den)+1, khi = klo+1 (only needed when rem>0)
    val ranks = n.crossJoin(qs)
      .withColumn("pos_num", (col("n") - 1) * col("num"))
      .withColumn("rem", pmod(col("pos_num"), col("den")))
      .withColumn("klo", expr("pos_num DIV den") + 1)
      .select(keys.map(col) ++ Seq(col("qname"), col("den"), col("rem"),
        explode(array(
          struct(col("klo").as("k"), lit(0).as("which")),
          struct((col("klo") + 1).as("k"), lit(1).as("which")))).as("kk")): _*)
      .select(keys.map(col) ++ Seq(col("qname"), col("den"), col("rem"),
        col("kk.k").as("k"), col("kk.which").as("which")): _*)
      .filter(col("which") === 0 || col("rem") > 0)
    val q = (keys ++ Seq("qname", "den", "rem")).map(col)
    val p = Seq("p25", "p50", "p75", "p90")
      .map(nm => max(when(col("qname") === nm, col("qval"))).as(nm))
    select(ranks)
      .groupBy(q: _*)
      .agg(max(when(col("which") === 0, col("v"))).as("vlo"),
        max(when(col("which") === 1, col("v"))).as("vhi"))
      .withColumn("qval",
        (col("vlo").cast("long") * (col("den") - col("rem")) +
          coalesce(col("vhi"), col("vlo")).cast("long") * col("rem"))
          .cast("double") / col("den").cast("double"))
      .groupBy(keys.map(col): _*).agg(p.head, p.tail: _*)
  }

  /** Gini over a value-grouped (v, cnt, cnt_lt) grid of non-negative
    * values — the output of [[below]] or [[belowBucketed]] with count
    * `cnt`: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the ascending-sorted
    * values. Rows of value v occupy ranks [c_lt+1, c_lt+cnt], so their
    * Σ i·xᵢ share is v·(cnt·c_lt + cnt·(cnt+1)/2) — all BIGINT; G is ONE
    * IEEE division of two exact integers. Output (one row): `n`,
    * `total`, gini_num (= 2Σi·x − (n+1)·Σx, exact), gini. */
  def gini(ranked: DataFrame, n: String, total: String): DataFrame =
    ranked
      .agg(coalesce(sum(col("cnt")), lit(0L)).as(n),
        coalesce(sum(col("v") * col("cnt")), lit(0L)).as(total),
        // cnt·(cnt+1) is always even → the integer div is exact; Spark's
        // `/` on longs would promote to double
        coalesce(sum(col("v") * (col("cnt") * col("cnt_lt") +
          expr("(cnt * (cnt + 1)) div 2"))), lit(0L)).as("rw"))
      .select(col(n), col(total),
        (lit(2L) * col("rw") - (col(n) + 1L) * col(total)).as("gini_num"))
      .select(col(n), col(total), col("gini_num"),
        (col("gini_num").cast("double") /
          expr(s"nullif($n * $total, 0)")).as("gini"))

  /** The two-arm value grid of the event-type rank tests: per exact
    * cent value of the `typeA` and `typeB` events, (c, na, nb) — the
    * arm counts at that value. */
  def twoArmCents(events: DataFrame, typeA: String,
                  typeB: String): DataFrame = {
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val t = col("event_type")
    events.filter(t === typeA || t === typeB)
      .select(t.as("ty"), cents.as("c"))
      .groupBy(col("c"))
      .agg(sum(when(col("ty") === typeA, 1L).otherwise(0L)).as("na"),
        sum(when(col("ty") === typeB, 1L).otherwise(0L)).as("nb"))
  }
}
