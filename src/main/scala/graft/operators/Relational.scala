package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** B6/B7 — the real aggregation and join paths of the engine
  * (SURVEY.md §2 Group B; the reference itself has neither, §2 "Categories
  * with NO implementation").
  *
  * Determinism-by-construction: every money aggregate is summed as an
  * exact DECIMAL (the inputs are 2-decimal doubles) and only cast to
  * double at the very end. Double sums are order-sensitive; decimal sums
  * are exact, so Spark's partial-aggregate tree and DuckDB's sequential
  * sum produce the same value bit-for-bit, and the final decimal→double
  * cast is a single correctly-rounded conversion in both engines.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** TPC-H Q1 shape on lineitem: pricing summary by returnflag/linestatus.
    * Partial (map-side) aggregation makes this one shuffle of ~|groups|
    * rows per task at any scale. */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    val disc1 = lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))
    val tax1  = lit(1).cast(DecimalType(3, 2)) + dec2(col("l_tax"))
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * disc1).cast("double").as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * disc1 * tax1).cast("double").as("sum_charge"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec2(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** ROLLUP grouping sets over the same pricing summary: per (flag,
    * status), per flag subtotals, and the grand total.
    *
    * Two-level: aggregate to the finest grouping first (one narrow
    * shuffle over ~|groups| partials), then ROLLUP the tiny aggregate.
    * Spark's Expand otherwise multiplies every INPUT row by the number
    * of grouping sets before partial aggregation — at 100 TB that is 3×
    * the scan volume through the aggregation; here Expand runs over the
    * handful of pre-aggregated rows. Decimal sum-of-sums is exact, so
    * subtotals are bit-identical to the single-pass form. */
  def pricingRollup(lineitem: DataFrame): DataFrame = {
    val base = lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).as("sq"),
        sum(dec2(col("l_extendedprice"))).as("sp"),
        count(lit(1)).as("cnt"))
    base
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        sum(col("sq")).cast("double").as("sum_qty"),
        sum(col("sp")).cast("double").as("sum_base_price"),
        sum(col("cnt")).as("count_order"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** CUBE grouping sets over the pricing summary — all four groupings
    * (flag×status, per-flag, per-status, grand total), completing the
    * grouping-sets family next to [[pricingRollup]]. Same two-level
    * shape: aggregate to the finest grouping first, then CUBE the tiny
    * aggregate, so Expand multiplies ~|groups| pre-aggregated rows by
    * the 4 grouping sets instead of the 100 TB scan. Decimal
    * sum-of-sums keeps every subtotal bit-identical to a single-pass
    * CUBE. */
  def pricingCube(lineitem: DataFrame): DataFrame = {
    val base = lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).as("sq"),
        sum(dec2(col("l_extendedprice"))).as("sp"),
        count(lit(1)).as("cnt"))
    base
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        sum(col("sq")).cast("double").as("sum_qty"),
        sum(col("sp")).cast("double").as("sum_base_price"),
        sum(col("cnt")).as("count_order"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** LEFT SEMI and LEFT ANTI joins as first-class surface: customers
    * with at least one order in the window (semi — existence check, no
    * row multiplication, no right-side columns leak into the output)
    * and customers with none (anti), one relation with a kind marker —
    * the EXISTS / NOT EXISTS join shapes. Both branches hash-join
    * against the SAME filtered projection of orders, so Catalyst reuses
    * the exchange; neither branch ever materializes a row per matching
    * order — at 100 TB that is the difference between |customers| and
    * |customers × avg orders| flowing through the join. */
  def semiAntiJoin(customer: DataFrame, orders: DataFrame,
                   dateStart: String = "1996-01-01",
                   dateEnd: String = "1997-01-01"): DataFrame = {
    val o = orders.filter(
        col("o_orderdate") >= to_timestamp(lit(dateStart)) &&
          col("o_orderdate") < to_timestamp(lit(dateEnd)))
      .select(col("o_custkey"))
    val semi = customer
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("with_orders").as("kind"))
    val anti = customer
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("without_orders").as("kind"))
    semi.unionByName(anti).orderBy(col("c_custkey"))
  }

  /** Write `df` as a bucketed managed table: the fact-to-fact
    * co-location tool for joins where NEITHER side fits a broadcast.
    * Two tables bucketed on the same key with the same bucket count
    * sort-merge-join with NO Exchange on either side — the shuffle is
    * paid once at write time and amortized over every subsequent join
    * (BucketingSpec asserts the exchange-free plan). A per-bucket Sort
    * remains (Spark only trusts written sort order behind a legacy flag
    * with one file per bucket); that sort is bucket-local CPU, not the
    * cluster-wide data movement the bucketing eliminates. At 100 TB
    * this is the difference between re-shuffling both facts per query
    * and scanning them join-ready. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    // a previous PROCESS can leave the managed location behind: the
    // in-memory catalog forgets its tables at JVM exit but the warehouse
    // directory survives, and CREATE refuses an existing location. Drop
    // the catalog entry (removes files when the table is known), then
    // remove any orphaned directory — but ONLY for graft-owned names:
    // this helper must never be able to destroy an unrelated
    // pre-existing table's files just because a caller reused its name.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (table.startsWith("graft_")) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
    // JVM-exit cleanup (round 19 housekeeping): the table names carry a
    // per-JVM applicationId suffix, so a finished harness process left
    // its bucketed warehouse directories behind FOREVER — one set per
    // bench/verify run accreting under spark-warehouse/. Register each
    // graft-owned location for deletion at exit (hadoop conf copied NOW
    // — the hook must not touch a stopped SparkContext).
    if (table.startsWith("graft_") &&
        bucketedCleanupHooked.add(table.toLowerCase)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val hconf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      sys.addShutdownHook {
        try { loc.getFileSystem(hconf).delete(loc, true); () }
        catch { case _: Throwable => () }
      }
      ()
    }
  }

  /** Bucketed-table locations already registered for JVM-exit cleanup
    * (one shutdown hook per table, however many times it is rewritten
    * within the process). */
  private val bucketedCleanupHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The [[writeBucketed]] contract as a REGISTERED end-to-end query:
    * write orders and lineitem bucketed on the order key, join the
    * bucketed tables, return the joined rows. The output is identical
    * to the plain parquet join (that IS the oracle), while the physical
    * plan sort-merge-joins the bucketed scans with NO Exchange on
    * either side (PlanInvariantsSpec asserts it with broadcast
    * disabled) — the write-once/join-many layout for fact-to-fact
    * joins where neither side broadcasts. The write cost is INSIDE
    * this query on purpose: what the bench times is the full
    * pay-shuffle-at-write-time trade, not just the free join. */
  def bucketedJoin(orders: DataFrame, lineitem: DataFrame,
                   buckets: Int = 32): DataFrame = {
    val spark = orders.sparkSession
    // table names carry a per-JVM suffix (sanitized applicationId):
    // two sessions sharing a warehouse — a concurrent bench and verify,
    // say — each write their own tables instead of clobbering the
    // other's mid-join, and no unrelated table can share the name
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val ordT = s"graft_bkt_orders_$tag"
    val liT = s"graft_bkt_lineitem_$tag"
    writeBucketed(orders.select(col("o_orderkey"), col("o_totalprice")),
      ordT, "o_orderkey", buckets)
    writeBucketed(lineitem
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
      liT, "o_orderkey", buckets)
    spark.table(ordT)
      .join(spark.table(liT), Seq("o_orderkey"))
      .select(col("o_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        col("o_totalprice").as("totalprice"),
        col("l_extendedprice").as("extendedprice"))
  }

  /** BUCKETED LAYOUT UNDER SCHEMA EVOLUTION (round 16) — the lake
    * lifecycle [[bucketedJoin]] meets `source_schema_evolve`: a
    * long-lived bucketed fact accretes a column across writer
    * GENERATIONS (gen 2 adds `o_orderpriority`), each generation its
    * own table bucketed on the SAME key with the SAME bucket count —
    * the layout contract that keeps every generation join-ready
    * forever. The query joins EACH generation to the bucketed lineitem
    * separately and unions the joined branches (union-then-join would
    * discard the co-location; join-then-union keeps both branches
    * exchange-free — BucketingSpec asserts it with broadcast off), and
    * gen 1's missing column surfaces as the explicit `<backfill>`
    * sentinel: a reader inventing values, losing a generation, or
    * shuffling a bucketed side breaks a count, a sum, or the plan
    * assert. Write cost is inside the query, the [[bucketedJoin]]
    * pay-at-write trade.
    *
    * Output: (gen, priority, n_lines, rev_cents), ordered. */
  def bucketedEvolutionJoin(orders: DataFrame, lineitem: DataFrame,
                            buckets: Int = 32): DataFrame = {
    val spark = orders.sparkSession
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val g1T = s"graft_bev_g1_$tag"
    val g2T = s"graft_bev_g2_$tag"
    val liT = s"graft_bev_lineitem_$tag"
    writeBucketed(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"), col("o_totalprice")),
      g1T, "o_orderkey", buckets)
    writeBucketed(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority")),
      g2T, "o_orderkey", buckets)
    writeBucketed(lineitem
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
      liT, "o_orderkey", buckets)
    val li = spark.table(liT)
    def branch(t: DataFrame, gen: Long) = t.join(li, Seq("o_orderkey"))
      .select(lit(gen).as("gen"),
        coalesce(col("o_orderpriority"), lit("<backfill>")).as("priority"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("cents"))
    val g1 = spark.table(g1T)
      .withColumn("o_orderpriority", lit(null).cast("string"))
    branch(g1, 1L).unionByName(branch(spark.table(g2T), 2L))
      .groupBy(col("gen"), col("priority"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("rev_cents"))
      .orderBy(col("gen"), col("priority"))
  }

  /** Orders enriched with customer → nation → region. The dimension side
    * (customer/nation/region) is broadcast, so the fact side (orders, the
    * 100 TB table) never shuffles — the whole join tree is one codegen
    * stage over the orders scan. */
  def enrichOrders(orders: DataFrame, customer: DataFrame,
                   nation: DataFrame, region: DataFrame): DataFrame = {
    val dims = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_name").as("nation"), col("r_name").as("region"))
    orders.join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("c_name"), col("c_mktsegment"),
        col("nation"), col("region"))
      .orderBy(col("o_orderkey"))
  }

  /** Decimal-exact Pearson correlation per group: built from exact
    * decimal sums (Σx, Σy, Σxy, Σx², Σy², n) so the result is
    * order-insensitive — Spark's builtin corr() accumulates doubles and
    * drifts with partitioning, which would break the oracle. The final
    * arithmetic is a fixed-order double expression over exact inputs. */
  def groupedCorrelation(lineitem: DataFrame): DataFrame = {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"), {
        // decimal → STRING → double, not decimal → double: once a sum's
        // unscaled value exceeds 2^53 (price² sums do), engines'
        // decimal→double conversions double-round differently (~1 ulp,
        // observed 3.5e-18 at sf0.001). decimal→string is exact in both
        // engines and string→double is correctly rounded in both, so the
        // via-string doubles are BIT-IDENTICAL and every downstream IEEE
        // op is too — no tolerance or output rounding needed.
        def d(c: org.apache.spark.sql.Column) =
          c.cast("string").cast("double")
        ((col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            sqrt(col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("corr_qty_price")
      })
      .orderBy(col("l_returnflag"))
  }

  /** Per-type z-score OUTLIER flagging — the value-anomaly filter an
    * events pipeline runs before aggregation trusts the numbers: flag
    * every event whose value sits more than `threshold` sample
    * standard deviations from its type's mean. Stats come from exact
    * decimal sums (n, Σv, Σv² — order-insensitive under any
    * partitioning) through the same via-string decimal→double bridge
    * as [[groupedCorrelation]], so mean, std and z are bit-identical
    * across engines. The per-type stats frame is |types| rows —
    * broadcast back onto the stream; the whole operator is one
    * map-side-combined aggregation plus one narrow pass, nothing
    * corpus-sized shuffles. Types with n ≤ 1 or zero variance flag
    * nothing (no std to deviate from). Output: (event_id, event_type,
    * value, z) for flagged events, ordered. */
  def valueAnomalies(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    val v = dec2(col("value"))
    val stats = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(v).as("sv"), sum(v * v).as("svv"))
    def d(c: Column) = c.cast("string").cast("double")
    events.join(broadcast(stats), Seq("event_type"))
      .withColumn("mean", d(col("sv")) / col("n"))
      // Zero-variance groups can round to a tiny NEGATIVE variance in
      // doubles; sqrt would yield NaN and NaN > 0 is TRUE under Spark's
      // NaN-greatest ordering, flagging every row of the group. Clamp
      // to 0 so those groups get std = 0 and fall to the std > 0 guard.
      .withColumn("std", sqrt(greatest(
        (col("n") * d(col("svv")) - d(col("sv")) * d(col("sv"))) /
          (col("n") * (col("n") - lit(1))), lit(0.0))))
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(col("n") > 1 && col("std") > 0 &&
        abs(col("z")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** CDC upsert — apply a change set onto a base snapshot, latest-wins by
    * key: a change row replaces the base row WHOLESALE (so an update that
    * nulls a field really nulls it — per-column coalesce would resurrect
    * the stale base value), new keys insert, untouched base rows pass
    * through. The change set must carry at most one row per key (compact
    * multi-update streams first, e.g. with dedupExact on a version
    * column). One shuffle on the key; at scale the base side would be
    * bucketed on the key so only the (small) change set moves. */
  def upsert(base: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val cols = base.columns.toSeq
    val b = base.select(struct(cols.map(col): _*).as("b_row"),
      col(key).as("b_key"))
    val c = changes.select(struct(cols.map(col): _*).as("c_row"),
      col(key).as("c_key"))
    b.join(c, col("b_key") === col("c_key"), "full_outer")
      .select(when(col("c_key").isNotNull, col("c_row"))
        .otherwise(col("b_row")).as("row"))
      .select(col("row.*"))
      .orderBy(col(key))
  }

  /** Skew-safe two-stage (salted) aggregation: rows are spread over
    * `salts` sub-keys derived deterministically from a row id, partially
    * aggregated per (key, salt), then merged per key. Semantically
    * IDENTICAL to the direct groupBy (decimal sums are order-insensitive
    * — the oracle is the plain GROUP BY); structurally it caps any hot
    * key's share of a single reducer at 1/salts, the standard remedy when
    * a handful of keys dominate a 100 TB shuffle. */
  def saltedAgg(events: DataFrame, key: String = "event_type",
                salts: Int = 16): DataFrame = {
    val partial = events
      .withColumn("__salt", pmod(xxhash64(col("event_id")), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("pn"),
        sum(dec2(col("value"))).as("psum"))
    partial
      .groupBy(col(key))
      .agg(sum(col("pn")).as("n_events"),
        sum(col("psum")).cast("double").as("sum_value"))
      .orderBy(col(key))
  }

  /** Skew-safe equi-join — [[saltedAgg]]'s sibling for JOINS whose build
    * side is too big to broadcast and whose probe key is power-law: the
    * fact side salts its join key with a deterministic hash of a unique
    * column (`saltBy`), the dim side is replicated `salts`× (one copy
    * per salt value), and the join runs on (key, salt) — so a hot key's
    * rows land on `salts` shuffle partitions instead of one reducer.
    * Semantically IDENTICAL to the plain equi-join (the oracle is the
    * unsalted join); the cost is `salts`× the dim's shuffle volume,
    * which is the right trade exactly when |dim| ≪ |fact-side hot key|.
    * AQE's skew-join split is the reactive alternative for sort-merge
    * plans; salting is the declarative form that also covers hash joins,
    * disabled-AQE deployments, and pre-partitioned layouts. */
  def saltedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String, saltBy: Column,
                 salts: Int = 16): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // withColumn REPLACES a same-named input column and the final drop
    // would then delete caller data — refuse the collision instead of
    // silently losing a column
    Seq("__salt" -> fact, "__dsalt" -> dim).foreach { case (h, df) =>
      require(!df.columns.contains(h),
        s"saltedJoin reserves helper column '$h'; rename it in the input")
    }
    val sf = fact.withColumn("__salt", pmod(xxhash64(saltBy), lit(salts)))
    val rd = dim.withColumn("__dsalt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    sf.join(rd, sf(factKey) === rd(dimKey) && sf("__salt") === rd("__dsalt"))
      .drop("__salt", "__dsalt")
  }

  /** Exact type-7 quantiles over a BOUNDED-domain integer column,
    * computed from ORDER STATISTICS with exact rational interpolation —
    * not the builtin `percentile`, whose double interpolation
    * (lo + (hi-lo)·frac, frac from a 0.9·(n-1) product) can differ from
    * another engine's formulation in the last ulp. The value-grouped
    * length grid goes through [[RankGrid.quartiles]]: exact integer
    * positions, the bracketing order statistics by rank-bracket
    * selection, ONE IEEE division per quartile.
    *
    * Memory is O(distinct lengths) like the builtin. The boundedness is
    * ENFORCED in-plan, not assumed: an over-`maxDistinct` domain aborts
    * with the alternative named (the connPoolState assert_true
    * discipline) before the rank kernel consumes it. For
    * unbounded-domain columns use [[lengthQuantilesApprox]] (GK
    * sketch) instead. */
  def lengthQuantiles(docs: DataFrame, maxDistinct: Long = 1000000L): DataFrame = {
    val counts0 = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    // IN-PLAN domain gate (1-row count branch off the groupBy's own
    // exchange — no second pass over the corpus): the exact rank frame
    // holds every DISTINCT value, which is only sane on a bounded
    // domain. If the domain surprises, fail loudly with the fix named
    // instead of silently spilling.
    val nDistinct = counts0.agg(count(lit(1)).as("n_vals"))
    val counts = counts0.crossJoin(broadcast(nDistinct))
      .filter(assert_true(col("n_vals") <= maxDistinct,
        lit(s"lengthQuantiles: more than $maxDistinct distinct values — " +
          "the exact rank frame would hold every one of them. Use " +
          "lengthQuantilesApprox (GK sketch) for unbounded domains, or " +
          "raise maxDistinct if the domain really is bounded.")).isNull)
      .drop("n_vals")
    val nrow = docs.agg(count(lit(1)).as("n"),
      min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    RankGrid.quartiles(Nil, nrow.select(col("n")))(
        RankGrid.orderStats(counts, Nil, "v", "cnt", _))
      .crossJoin(nrow.select(col("lo"), col("hi")))
  }

  /** Per-GROUP exact type-7 quantiles — [[lengthQuantiles]] generalized
    * from one global distribution to one per `o_orderpriority`, over
    * order totals in EXACT integer cents (the [[priceHistogram]]
    * domain). Same [[RankGrid.quartiles]] readout, keyed by group and
    * selected by [[RankGrid.orderStatsBucketed]] (the distinct order
    * totals grow with the data and span many buckets), so
    * the per-group quartiles hash-match the oracle even on fractional
    * positions. Output: (grp, n, p25, p50, p75, p90, lo, hi) ordered. */
  def groupQuantiles(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderpriority").as("grp"),
      (dec2(col("o_totalprice")) * 100).cast("long").as("v"))
    val counts = base.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val nrow = base.groupBy(col("grp")).agg(count(lit(1)).as("n"),
      min(col("v")).as("lo"), max(col("v")).as("hi"))
    RankGrid.quartiles(Seq("grp"), nrow.select(col("grp"), col("n")))(
        RankGrid.orderStatsBucketed(counts, Seq("grp"), "v", "cnt", _))
      .join(nrow, "grp")
      .select(col("grp"), col("n"), col("p25"), col("p50"), col("p75"),
        col("p90"), col("lo"), col("hi"))
      .orderBy(col("grp"))
  }

  /** The sketch form of [[lengthQuantiles]]: approx_percentile
    * (Greenwald-Khanna), `accuracy` trading memory for rank error
    * ≤ 1/accuracy·N. The 100 TB swap-in — exact `percentile` buffers
    * every value per group; the GK sketch is bounded-memory and
    * merge-combinable. Spec-checked against the exact quantiles within
    * the rank-error bound. */
  def lengthQuantilesApprox(docs: DataFrame, accuracy: Int = 1000): DataFrame =
    docs.agg(
      expr(s"approx_percentile(n_chars, 0.25, $accuracy)").as("p25"),
      expr(s"approx_percentile(n_chars, 0.5, $accuracy)").as("p50"),
      expr(s"approx_percentile(n_chars, 0.75, $accuracy)").as("p75"),
      expr(s"approx_percentile(n_chars, 0.9, $accuracy)").as("p90"))

  /** TPC-H Q3 shape — shipping priority: revenue of unshipped-as-of-date
    * orders for one market segment, top 10. Exercises the
    * filter-pushdown → broadcast-dim → fact-join → partial-agg → top-k
    * chain: both date filters reach the parquet scans (PushedFilters),
    * customer broadcasts at test scale, lineitem (the 100 TB side)
    * shuffles once on l_orderkey for the aggregate.
    *
    * Hint policy (here and in [[localSupplierVolume]]): `broadcast()` is
    * pinned ONLY on cardinality-BOUNDED dims (nation = 25 rows, region =
    * 5 — fixed forever). customer/supplier grow with scale factor, so
    * they carry NO hint: under the size threshold (every test SF) the
    * planner broadcasts them anyway — asserted in PlanInvariantsSpec —
    * and at 100 TB, where a forced broadcast of a billion-row dim is an
    * OOM, they correctly fall back to a shuffle join. A hint that is
    * right at sf0.1 and fatal at SF100k is a scale bug, not a tuning. */
  def shippingPriority(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame,
                       segment: String = "BUILDING",
                       date: String = "1998-01-01"): DataFrame = {
    val cut = to_timestamp(lit(date))
    val revenue = sum(dec2(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))))
    lineitem.filter(col("l_shipdate") > cut)
      .join(orders.filter(col("o_orderdate") < cut), col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === segment),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(revenue.cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape — local supplier volume: revenue per nation where
    * customer and supplier share the nation, one region, one year. Six
    * tables; the bounded dims (nation/region) are PINNED broadcast, the
    * SF-scaling dims (customer/supplier) broadcast by threshold at test
    * scale and legitimately shuffle at 100 TB (see [[shippingPriority]]'s
    * hint policy), and the two fact tables meet in a single shuffle join
    * on the order key — the multi-way star-join shape at 100 TB. */
  def localSupplierVolume(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          nation: DataFrame, region: DataFrame,
                          regionName: String = "ASIA",
                          yearStart: String = "1996-01-01",
                          yearEnd: String = "1997-01-01"): DataFrame = {
    val revenue = sum(dec2(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))))
    lineitem
      .join(orders.filter(col("o_orderdate") >= to_timestamp(lit(yearStart)) &&
          col("o_orderdate") < to_timestamp(lit(yearEnd))),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(revenue.cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape — returned-items revenue: which customers returned
    * the most value in a quarter (the churn/claims report). Fact-fact
    * equi-join (lineitem×orders, both filtered BEFORE the join so the
    * quarter predicate and returnflag reach the scans), customer joins
    * by threshold (broadcasts at test SF, legitimately shuffles at
    * 100 TB — same policy as [[shippingPriority]]), nation pinned
    * broadcast (25 rows at any SF). Decimal-exact revenue, top 20 as
    * TakeOrdered — never a global sort. */
  def returnedItemsRevenue(lineitem: DataFrame, orders: DataFrame,
                           customer: DataFrame, nation: DataFrame,
                           quarterStart: String = "1996-01-01",
                           quarterEnd: String = "1996-04-01"): DataFrame = {
    val revenue = sum(dec2(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))))
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders.filter(col("o_orderdate") >= to_timestamp(lit(quarterStart)) &&
          col("o_orderdate") < to_timestamp(lit(quarterEnd))),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(revenue.cast("double").as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Range (interval) join — the second classic non-equi temporal join
    * next to [[asofJoin]]: match every `pointType` event to every
    * `intervalType` event whose window `[ts, ts + windowSec)` contains
    * it, across ALL users (a genuine interval × point join, no shared
    * equi-key).
    *
    * The naive formulation is an inequality join — Spark plans it as a
    * BroadcastNestedLoopJoin, O(|intervals|·|points|). This composition
    * bucketizes time instead: each point lands in exactly ONE
    * `bucketSec`-wide bucket, each interval is exploded to the ≤
    * ⌈windowSec/bucketSec⌉+1 buckets it overlaps, and the join becomes a
    * plain shuffle-partitionable EQUI-join on the bucket id followed by
    * the exact containment filter. Each (point, interval) pair meets in
    * exactly one bucket (the point's), so no dedup is needed. All
    * arithmetic is integer microseconds — exact in both engines.
    *
    * Scale note (measured, BASELINE.md round-8 stress): the OUTPUT of a
    * range join is quadratic in per-window event density — densifying a
    * fixed time span 100× grew the answer exactly 10,000× while the
    * engine's per-output-row cost FELL ~70×. The plan scales; the
    * relation itself explodes by semantics. At corpus scale consume it
    * aggregated (per-interval counts, top-k, existence) rather than as
    * the raw pair relation, or bound the window. */
  def rangeJoin(events: DataFrame, intervalType: String = "error",
                pointType: String = "purchase",
                windowSec: Int = 600, bucketSec: Int = 600): DataFrame = {
    val busec = bucketSec * 1000000L
    val wusec = windowSec * 1000000L
    // integer `div`, never `/`: epoch-µs (~1.7e18) overflows double precision
    val intervals = events.filter(col("event_type") === intervalType)
      .select(col("event_id").as("interval_id"),
        unix_micros(col("ts")).as("ivl_us"))
      .withColumn("bucket", explode(expr(
        s"sequence(ivl_us div $busec, (ivl_us + ${wusec - 1}) div $busec)")))
    val points = events.filter(col("event_type") === pointType)
      .select(col("event_id").as("point_id"),
        unix_micros(col("ts")).as("pt_us"))
      .withColumn("bucket", expr(s"pt_us div $busec"))
    points.join(intervals, Seq("bucket"))
      .filter(col("pt_us") >= col("ivl_us") &&
        col("pt_us") < col("ivl_us") + wusec)
      .select(col("point_id"), col("interval_id"),
        timestamp_micros(col("pt_us")).as("point_ts"),
        timestamp_micros(col("ivl_us")).as("interval_start"))
      .orderBy(col("point_id"), col("interval_id"))
  }

  /** INTERVAL-OVERLAP join (round 11) — the interval×interval
    * complement to [[rangeJoin]]'s point-in-interval and [[asofJoin]]'s
    * most-recent-before: find every (A, B) pair whose time intervals
    * overlap (end-exclusive). The naive inequality join is a BNLJ —
    * quadratic and un-shuffleable; the scalable form buckets time and
    * equi-joins: each interval explodes to the (duration/bucket)-bounded
    * grid cells it covers, pairs meet on the cell key (one shuffle,
    * partitionable), and the exact overlap predicate re-applies.
    *
    * The DISTINCT-free dedup is the part worth copying: a pair sharing
    * several cells would duplicate, and deduping with DISTINCT is a
    * second full shuffle of the pair relation. Instead each surviving
    * pair is kept only in the cell containing the OVERLAP START
    * (`greatest(a_s, b_s) div bucket`) — a cell both sides provably
    * cover, so every overlapping pair is emitted EXACTLY once by a
    * stateless filter.
    *
    * Output: (a_id, b_id, overlap_us), ordered. Exact integer-µs
    * arithmetic end-to-end (epoch µs ~1.7e18 overflows double — the
    * `div`-not-`/` doctrine), so the oracle replays with a direct
    * inequality join. */
  def intervalOverlapJoin(events: DataFrame, typeA: String = "error",
                          typeB: String = "purchase", durASec: Int = 600,
                          durBSec: Int = 300,
                          bucketSec: Int = 300): DataFrame = {
    val bu = bucketSec * 1000000L
    val da = durASec * 1000000L
    val db = durBSec * 1000000L
    def side(t: String, dur: Long, idc: String, sc: String, ec: String) =
      events.filter(col("event_type") === t)
        .select(col("event_id").as(idc), unix_micros(col("ts")).as(sc))
        .withColumn(ec, col(sc) + dur)
        .withColumn("cell", explode(expr(
          s"sequence($sc div $bu, ($sc + ${dur - 1}) div $bu)")))
    val a = side(typeA, da, "a_id", "a_s", "a_e")
    val b = side(typeB, db, "b_id", "b_s", "b_e")
    a.join(b, Seq("cell"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .filter(col("cell") === expr(s"greatest(a_s, b_s) div $bu"))
      .select(col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s"))).as("overlap_us"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** As-of join (composition form): for each `forType` event, the most
    * recent `matchType` event of the same user at-or-before it. Spark has
    * no native as-of join; the scalable composition is a single
    * partitioned sort + running `last(..., ignoreNulls)` carry — one
    * shuffle on the key, no range cross-join, the sort-merge as-of
    * pattern that holds at 100 TB. "At-or-before" is inclusive and ties
    * at equal ts resolve by event_id order (a same-instant match event
    * with a HIGHER id counts as after, not before) — deterministic and
    * mirrored exactly in the oracle SQL. */
  def asofJoin(events: DataFrame, matchType: String = "click",
               forType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("asof_ts",
        last(when(col("event_type") === matchType, col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === forType)
      .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of join (round 13) — the fourth member of the as-of
    * family (backward, tolerance, nearest, THIS): for each `forType`
    * event, the FIRST same-user `matchType` event at-or-after it in
    * (ts, event_id) order — "what happened next": the
    * time-to-next-touch / label-lookahead query a training pipeline
    * runs when the label lives in the FUTURE of the feature row (the
    * backward form answers feature staleness; this answers label
    * delay). Same single-shuffle sort + running-carry composition,
    * mirrored: a forward frame with a first-non-null carry — no range
    * cross-join, holds at 100 TB.
    *
    * Output: (event_id, user_id, ts, next_ts, lead_us), ordered;
    * next_ts/lead_us NULL when no later match exists. */
  def asofJoinForward(events: DataFrame, matchType: String = "click",
                      forType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(0, Window.unboundedFollowing)
    events
      .withColumn("next_ts",
        first(when(col("event_type") === matchType, col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === forType)
      .select(col("event_id"), col("user_id"), col("ts"), col("next_ts"),
        (unix_micros(col("next_ts")) - unix_micros(col("ts")))
          .as("lead_us"))
      .orderBy(col("event_id"))
  }

  /** As-of join WITH TOLERANCE (round 11) — the feature-store variant
    * of [[asofJoin]]: a most-recent match only counts if it is no
    * staler than `toleranceSec` (the "max feature age" every online
    * feature store enforces — an hours-old price is a feature, a
    * year-old one is a bug). Same single-shuffle sort + running-carry
    * composition (no range cross-join, holds at 100 TB); the gate is a
    * narrow integer-µs comparison after the carry, and a too-stale
    * match NULLs out exactly like no-match — but the row stays
    * (structural: every `forType` event reports, with its staleness
    * and verdict, so fresh + stale + unmatched reconciles to the type
    * count).
    *
    * Output: (event_id, user_id, ts, asof_ts, staleness_us, matched),
    * ordered; asof_ts/staleness_us NULL unless matched. */
  def asofJoinTolerance(events: DataFrame, matchType: String = "click",
                        forType: String = "purchase",
                        toleranceSec: Long = 86400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("raw_asof",
        last(when(col("event_type") === matchType, col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === forType)
      .withColumn("stale_us",
        unix_micros(col("ts")) - unix_micros(col("raw_asof")))
      .withColumn("matched", col("raw_asof").isNotNull &&
        col("stale_us") <= toleranceSec * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("matched"), col("raw_asof")).as("asof_ts"),
        when(col("matched"), col("stale_us")).as("staleness_us"),
        col("matched"))
      .orderBy(col("event_id"))
  }

  /** NEAREST as-of join (round 11) — the third member of the as-of
    * family (backward `join_asof`, max-age `join_asof_tolerance`):
    * match the CLOSEST same-user event in EITHER direction — the
    * sensor-fusion/log-alignment semantic ("the reading nearest this
    * event", pandas merge_asof direction='nearest'). Two running
    * carries over ONE per-user sort (backward last + forward first —
    * the same single shuffle; no second exchange: both windows share
    * the partition key and ordering, Spark plans one sort), then a
    * narrow integer-µs comparison picks the closer side; ties break
    * BACKWARD (the earlier match — deterministic, documented).
    *
    * Output: (event_id, user_id, ts, nearest_ts, gap_us, direction),
    * direction ∈ {back, fwd, none}, ordered. */
  def asofNearest(events: DataFrame, matchType: String = "click",
                  forType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val mTs = when(col("event_type") === matchType, col("ts"))
    val us = unix_micros(col("ts"))
    events
      .withColumn("b_ts", last(mTs, ignoreNulls = true).over(back))
      .withColumn("f_ts", first(mTs, ignoreNulls = true).over(fwd))
      .filter(col("event_type") === forType)
      .withColumn("b_gap",
        when(col("b_ts").isNotNull, us - unix_micros(col("b_ts"))))
      .withColumn("f_gap",
        when(col("f_ts").isNotNull, unix_micros(col("f_ts")) - us))
      .withColumn("direction",
        when(col("b_gap").isNotNull &&
            (col("f_gap").isNull || col("b_gap") <= col("f_gap")), "back")
          .when(col("f_gap").isNotNull, "fwd")
          .otherwise("none"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("direction") === "back", col("b_ts"))
          .when(col("direction") === "fwd", col("f_ts")).as("nearest_ts"),
        when(col("direction") === "back", col("b_gap"))
          .when(col("direction") === "fwd", col("f_gap")).as("gap_us"),
        col("direction"))
      .orderBy(col("event_id"))
  }

  /** Pivot: per-user event-type counts as columns (explicit value list ⇒
    * deterministic schema, no extra pass to discover values — the form
    * that works on a 100 TB fact table). */
  def pivotCounts(events: DataFrame,
                  types: Seq[String] = Seq("click", "error", "purchase",
                    "signup", "view")): DataFrame =
    events.groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy(col("user_id"))

  /** B1 dedup_exact — deterministic exact dedup: keep the lowest-key row
    * per duplicate group. One shuffle on the dedup key; at scale prefer
    * this row_number form over dropDuplicates for a deterministic winner. */
  def dedupExact(df: DataFrame, key: Seq[String], tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(tiebreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Type-2 slowly-changing dimension from an event stream — the
    * warehouse historization pass: per user, each CHANGE of `attrCol`
    * (vs the previous event in (ts, event_id) order) opens a new
    * dimension version; `valid_from` is the change's timestamp,
    * `valid_to` the next change's (half-open interval, NULL while
    * current), `version` the per-user ordinal. Runs as ONE shuffle on
    * user_id feeding two window passes over the same sort (change
    * detection via lag on all events, then lead/row_number over the
    * surviving change-points) — per-entity work is bounded by that
    * entity's event count, the same discipline as `event_journey`.
    *
    * Output: (user_id, attr, valid_from, valid_to, version,
    * is_current), ordered. */
  def scd2(events: DataFrame, attrCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col(attrCol).as("attr"))
      .withColumn("prev_attr", lag(col("attr"), 1).over(w))
      // lag(attr) is NULL both at the partition head and after a row
      // whose attr IS NULL — a real state here (event_type has nulls,
      // cf. the sentinel ops) — so first-row detection rides the
      // non-null event_id instead
      .withColumn("prev_eid", lag(col("event_id"), 1).over(w))
      .filter(col("prev_eid").isNull ||
        !(col("prev_attr") <=> col("attr")))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    changes
      .select(col("user_id"), col("attr"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w2).as("valid_to"),
        row_number().over(w2).cast("long").as("version"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("version"))
  }

  /** SCD2 LATE-BATCH UPSERT (round 14) — the nightly-merge half of the
    * [[scd2]] story: a change batch lands AFTER the dimension was
    * historized, and the timeline must absorb it WITHOUT a full
    * rebuild — close each touched user's current version at its first
    * new change, append the batch's change-points as new versions with
    * continuing ordinals, leave every untouched user's rows alone
    * (they are never rescanned beyond one join probe). Correct by the
    * FOLD IDENTITY (the `sim_ann_hnsw_upsert` doctrine applied to
    * historization): SCD2 is a left fold over each user's (ts,
    * event_id)-ordered events, so base-then-batch equals the
    * from-scratch build whenever every base event precedes every batch
    * event per user — exactly a time-cutoff batch's shape, and exactly
    * what the oracle replays (the full rebuild IS the oracle). The
    * batch head's change test carries the user's CURRENT attr
    * (null-safe — a NULL attr is a real state); new users fold from
    * version 1.
    *
    * Scale shape: one window pass over the BATCH (not the base), one
    * key join of the batch's users against the dim, one union.
    * Output: the [[scd2]] contract, ordered. */
  def scd2Upsert(base: DataFrame, batch: DataFrame,
                 attrCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cur = base.filter(col("is_current"))
      .select(col("user_id"), col("attr").as("cur_attr"),
        col("version").as("cur_ver"), col("valid_from").as("cur_from"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = batch
      .select(col("user_id"), col("ts"), col("event_id"),
        col(attrCol).as("attr"))
      .join(cur, Seq("user_id"), "left")
      // fold-identity gate (round 15, advisor): the documented
      // precondition — every base event precedes every batch event per
      // user — is now CHECKED at its observable boundary instead of
      // assumed: a batch event at/before the user's current version's
      // valid_from would close that version at a ts not after it
      // opened (an out-of-order timeline), so the fold aborts loudly
      // naming the violation rather than emitting a silently corrupted
      // dimension. assert_true rides a FILTER (the connPoolState form)
      // so Catalyst cannot prune the gate.
      .filter(assert_true(
        col("cur_from").isNull || col("ts") > col("cur_from"),
        concat(lit("scd2Upsert fold-identity violation: batch event at "),
          col("ts").cast("string"),
          lit(" for user "), col("user_id").cast("string"),
          lit(" does not follow the current version opened at "),
          col("cur_from").cast("string"),
          lit(" — rebuild the dimension or re-range the batch")))
        .isNull)
      .withColumn("prev_attr", lag(col("attr"), 1).over(w))
      .withColumn("prev_eid", lag(col("event_id"), 1).over(w))
      .filter(
        (col("prev_eid").isNull &&
          (col("cur_ver").isNull || !(col("attr") <=> col("cur_attr")))) ||
        (col("prev_eid").isNotNull && !(col("prev_attr") <=> col("attr"))))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newRows = changes
      .select(col("user_id"), col("attr"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w2).as("valid_to"),
        (row_number().over(w2).cast("long") +
          coalesce(col("cur_ver"), lit(0L))).as("version"))
      .withColumn("is_current", col("valid_to").isNull)
    val firstChange = changes.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).getField("ts")
        .as("fc_ts"))
    // no broadcast hint: the touched-user set is batch-sized — usually
    // broadcastable, but AQE should decide (a backfill batch isn't)
    val closed = base.join(firstChange, Seq("user_id"), "left")
      .select(col("user_id"), col("attr"),
        col("valid_from"),
        when(col("is_current") && col("fc_ts").isNotNull, col("fc_ts"))
          .otherwise(col("valid_to")).as("valid_to"),
        col("version"),
        (col("is_current") && col("fc_ts").isNull).as("is_current"))
    closed.unionByName(newRows)
      .orderBy(col("user_id"), col("version"))
  }

  /** FACT-TO-SCD2 AS-OF JOIN (round 13) — the query the [[scd2]]
    * timeline exists to SERVE in a warehouse: each fact row joins the
    * dimension VERSION valid at its event time (late-arriving facts
    * must hit their historical version, not `is_current`). Purchases
    * are the facts; the user's type-2 state timeline is the dim. The
    * join is an equi-join on the user key with the half-open interval
    * containment as residual — versions tile each user's timeline, so
    * every fact matches EXACTLY one version (a fact that is itself a
    * change row lands in the version it opened). Per-user version
    * counts are bounded, so the residual never explodes the equi
    * match. Money in exact cents.
    *
    * Output: (user_id, event_id, ts, cents, version, attr,
    * is_current), ordered by (user_id, event_id). */
  def factScd2Join(events: DataFrame): DataFrame = {
    val dim = scd2(events)
      .select(col("user_id").as("d_uid"), col("attr"),
        col("valid_from"), col("valid_to"), col("version"),
        col("is_current"))
    events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("cents"))
      .join(dim, col("user_id") === col("d_uid") &&
        col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("user_id"), col("event_id"), col("ts"), col("cents"),
        col("version"), col("attr"), col("is_current"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** ORDER BACKLOG TIMELINE (round 13) — open orders outstanding at
    * each month end, the operations dashboard's inventory-of-work
    * curve: an order OPENS at its order month and CLOSES at the month
    * of its LAST shipped line (an order with no lines never closes —
    * structural, it stays in the backlog forever). Three bounded
    * aggregations: per-order open/close months (the only wide
    * shuffle), per-month open/close counts, then cumulative sums over
    * the MONTH GRID — a calendar-bounded frame, so the ordered prefix
    * window is bounded by time span, never row count (the stats_ks
    * doctrine). backlog(m) = opened≤m − closed≤m.
    *
    * Output: (month, n_opened, n_closed, backlog), ordered. */
  def orderBacklog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perOrder = orders.select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("open_m"))
      .join(lineitem.groupBy(col("l_orderkey"))
          .agg(max(date_trunc("month", col("l_shipdate"))).as("close_m")),
        col("o_orderkey") === col("l_orderkey"), "left")
    val opened = perOrder.groupBy(col("open_m").as("month"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = perOrder.filter(col("close_m").isNotNull)
      .groupBy(col("close_m").as("month"))
      .agg(count(lit(1)).as("n_closed"))
    val w = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, 0)
    opened.join(closed, Seq("month"), "full")
      .select(col("month"),
        coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("backlog",
        sum(col("n_opened")).over(w) - sum(col("n_closed")).over(w))
      .orderBy(col("month"))
  }

  /** Exact equi-width histogram over order totals, in the integer-cents
    * domain: prices are 2-decimal doubles, so `DECIMAL(12,2) × 100`
    * is EXACT cents and every bucket boundary an integer comparison —
    * no FP binning ambiguity for the oracle to half-match. Bucket b of
    * `nb` covers `lo + b·ceil`-ish equal widths via the standard
    * `(c − lo)·nb div (range + 1)` map (last value lands in bucket
    * nb−1). Two aggregates — the broadcast 1-row bounds frame and the
    * per-bucket groupBy — both map-side-combinable; the histogram
    * relation is ≤ nb rows at any scale.
    *
    * Output: (bucket, n, cents_min, cents_max), ordered; empty buckets
    * simply absent (a skipping consumer joins on bucket id). */
  def priceHistogram(orders: DataFrame, nb: Int = 16): DataFrame = {
    require(nb >= 1, s"need nb >= 1, got $nb")
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val keyed = orders.select(cents.as("c"))
    val bounds = keyed.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    keyed.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        expr(s"((c - lo) * $nb) div (hi - lo + 1)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("c")).as("cents_min"), max(col("c")).as("cents_max"))
      .orderBy(col("bucket"))
  }

  /** Edit-distance fuzzy self-join over the part-name DICTIONARY —
    * entity resolution's inner loop: every distinct-name pair within
    * levenshtein distance `d`, found WITHOUT the all-pairs join. The
    * candidate filter is PassJoin's pigeonhole (Li, Deng, Feng, Wang;
    * VLDB'11 — public literature): split each indexed name into `d+1`
    * even segments; at most `d` edits cannot touch them all, so some
    * segment survives verbatim in the other string, shifted by at most
    * `d`. The index side emits its segments keyed `(l1, i, seg)`; the
    * probe side enumerates, for every compatible indexed length
    * `l1 ∈ [l2−d, l2+d]`, each segment-shaped substring at starts within
    * ±d — a CONSTANT (2d+1)·(d+1)·(2d+1) keys per name. Union of both
    * roles feeds the shared bounded-bucket enumerator
    * ([[Dedup.boundedCandidatePairs]]): pairs only ever form inside a
    * shared-key bucket (capped, Fail/Drop doctrine — dictionary skew is
    * the quantity being bounded), then Spark's native `levenshtein`
    * verifies the survivors. Names shorter than `d+1` chars (where the
    * pigeonhole has no nonempty segments) fall back to one shared
    * "short" bucket — complete, and bounded by the same cap.
    *
    * Dictionary-first is the scale shape: candidates/verification run
    * over DISTINCT names (the dictionary is orders of magnitude smaller
    * than the table at 100 TB), with per-name row counts carried
    * alongside so consumers weigh matches without re-scanning.
    *
    * Output: (name_a, name_b, dist, n_a, n_b), name_a < name_b,
    * ordered. */
  def fuzzyJoin(parts: DataFrame, d: Int = 2, maxBucket: Int = 64,
                overflow: BucketOverflow = BucketOverflow.Fail): DataFrame = {
    require(d >= 1, s"edit-distance bound must be >= 1, got $d")
    val nSeg = d + 1
    val dict = parts.filter(col("p_name").isNotNull)
      .groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("nid"), count(lit(1)).as("n_parts"))
    // even-split convention, replayed by both roles: for length l,
    // base = l div nSeg, rem = l mod nSeg; segment i (0-based) has
    // length base + (i < rem ? 1 : 0), 1-based start i*base + min(i,rem) + 1
    def segStart(l1: Column, i: Column): Column =
      i * (l1 - pmod(l1, lit(nSeg))) / nSeg + least(i, pmod(l1, lit(nSeg))) + 1
    def segLen(l1: Column, i: Column): Column =
      (l1 - pmod(l1, lit(nSeg))) / nSeg +
        when(i < pmod(l1, lit(nSeg)), 1).otherwise(0)
    val base = dict.select(col("nid"), col("name"),
      length(col("name")).as("l2"))
    val idxKeys = base
      .select(col("nid"), col("name"), col("l2").as("l1"),
        explode(sequence(lit(0), lit(nSeg - 1))).as("i"))
      .select(col("nid"), col("l1"), col("i"),
        substring(col("name"),
          segStart(col("l1"), col("i")).cast("int"),
          segLen(col("l1"), col("i")).cast("int")).as("seg"))
      .filter(length(col("seg")) > 0)
    val probeKeys = base
      .select(col("nid"), col("name"), col("l2"),
        explode(sequence(col("l2") - d, col("l2") + d)).as("l1"))
      .select(col("nid"), col("name"), col("l2"), col("l1"),
        explode(sequence(lit(0), lit(nSeg - 1))).as("i"))
      .select(col("nid"), col("name"), col("l2"), col("l1"), col("i"),
        explode(sequence(lit(-d), lit(d))).as("shift"))
      .select(col("nid"), col("l1"), col("i"),
        (segStart(col("l1"), col("i")) + col("shift")).as("st"),
        segLen(col("l1"), col("i")).as("sl"), col("l2"), col("name"))
      .filter(col("sl") > 0 && col("st") >= 1 &&
        col("st") + col("sl") - 1 <= col("l2"))
      .select(col("nid"), col("l1"), col("i"),
        substring(col("name"), col("st").cast("int"), col("sl").cast("int"))
          .as("seg"))
    // names too short for d+1 nonempty segments: one shared fallback
    // bucket (the pigeonhole needs l >= d+1); bounded by the same cap
    val shortKeys = base.filter(col("l2") < nSeg)
      .select(col("nid"), lit(-1).as("l1"), lit(-1).as("i"),
        lit("short").as("seg"))
    val keyed = idxKeys.unionByName(probeKeys).unionByName(shortKeys)
      .distinct()
    val pairs = Dedup.boundedCandidatePairs(keyed, "nid",
      Seq("l1", "i", "seg"), maxBucket, overflow, "fuzzyJoin")
    pairs
      .join(dict.select(col("nid").as("doc_a"), col("name").as("na"),
        col("n_parts").as("ca")), "doc_a")
      .join(dict.select(col("nid").as("doc_b"), col("name").as("nb"),
        col("n_parts").as("cb")), "doc_b")
      .withColumn("dist", levenshtein(col("na"), col("nb")).cast("long"))
      .filter(col("dist") <= d)
      .select(
        when(col("na") < col("nb"), col("na")).otherwise(col("nb")).as("name_a"),
        when(col("na") < col("nb"), col("nb")).otherwise(col("na")).as("name_b"),
        col("dist"),
        when(col("na") < col("nb"), col("ca")).otherwise(col("cb")).as("n_a"),
        when(col("na") < col("nb"), col("cb")).otherwise(col("ca")).as("n_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** NTILE banding (round 11) — the quartile-band summary that rounds
    * out the window family (lag/lead, moving average, per-group top-k):
    * rank every lineitem within its return flag by price and split into
    * `k` equal bands (SQL NTILE: the first n mod k bands take one extra
    * row), then summarize each band. The window is PARTITIONED (one
    * shuffle on the flag, per-partition sort) and the output is
    * k·groups rows — band boundaries are what a pricing dashboard reads
    * as "P0–P25 / P25–P50 / …" tiers. Ordering is made total with the
    * relation's primary key, so band membership — and therefore every
    * min/max/sum — is deterministic on any engine.
    *
    * Output: (l_returnflag, tile, n_rows, min_price, max_price,
    * sum_price) ordered. */
  def priceNtiles(lineitem: DataFrame, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    lineitem
      .withColumn("tile", ntile(k).over(w).cast("long"))
      .groupBy(col("l_returnflag"), col("tile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"), col("tile"))
  }

  /** PERCENT_RANK / CUME_DIST standings (round 11) — the relative-
    * standing pair that completes the window family (lag/lead, moving
    * average, top-k, NTILE): each (flag, status) cell's rank among its
    * flag's cells by decimal-exact revenue. The scale discipline is
    * WHERE the window runs: both functions need their whole partition
    * sorted, so they run over the AGGREGATED cell relation (≤
    * flags·statuses rows at any corpus size) — the corpus-sized work is
    * one map-side-combinable groupBy; putting the window on the raw
    * rows (the naive form) would sort every lineitem per flag.
    * Ordering is total ((revenue, status) — revenue ties broken by
    * key), so ranks are deterministic; the emitted doubles are the
    * standard (rank−1)/(n−1) and rank_last/n with ONE IEEE division
    * each — bit-identical in any engine.
    *
    * Output: (l_returnflag, l_linestatus, revenue, pct_rank,
    * cume_dist), ordered. */
  def cumeStandings(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec2(col("l_extendedprice"))).as("rev"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("rev"), col("l_linestatus"))
    cells
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume_dist", cume_dist().over(w))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("rev").cast("double").as("revenue"),
        col("pct_rank"), col("cume_dist"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TABLE PROFILE (round 11) — the data-profiling pass every warehouse
    * runs before trusting a new feed: per-column row count, null count,
    * exact distinct count, and min/max over a fixed column set, in TWO
    * column-pruned passes (one per aggregate family — see the in-code
    * note for why one combined pass is the slow shape). The
    * multi-column exact COUNT(DISTINCT) is the part engines get wrong
    * at scale: the naive form is one scan per column; here all seven
    * share a single Expand pass (each input row fans out once per
    * distinct-aggregate, hash-deduped map-side before the exchange) —
    * the spec asserts the scan count and the hash-aggregate shape.
    * The long output shape is produced by exploding an array of
    * per-column structs over the combined 1-row aggregate — never a
    * union of per-column re-aggregations.
    *
    * Numeric columns surface min/max as doubles (timestamps as exact
    * epoch micros — integers < 2^53, double-exact in any engine);
    * string columns as strings. All counts are exact longs, so the
    * whole profile hash-replays in DuckDB.
    *
    * Output: (column, n_rows, n_null, n_distinct, min_num, max_num,
    * min_str, max_str) ordered by column name. */
  def profileTable(lineitem: DataFrame): DataFrame = {
    val numCols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_shipdate")
    val strCols = Seq("l_returnflag", "l_linestatus")
    // distinct-count and min/max the RAW column types (longs hash and
    // compare cheaper than their double casts and the counts are
    // identical — the casts below are injective); only the surfaced
    // min/max values convert to the output lanes
    val p = lineitem.select(
      col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"),
      // NTZ → TIMESTAMP under the engine's fixed UTC session zone: the
      // instant is unchanged, and unix_micros then matches epoch_us
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("l_shipdate"),
      col("l_returnflag"), col("l_linestatus"))
    // TWO passes, each the cheap shape for its aggregates — NOT one:
    // combining min(string) buffers with the multi-distinct Expand
    // forces the whole expanded relation through SortAggregate (string
    // buffers are not hash-aggregable), a full sort of rows×(k+1) —
    // measured 10.5 s vs ~1 s split at sf0.1. Pass 1 (counts/min/max,
    // no distinct): a GLOBAL streaming aggregate — no Expand, no sort,
    // 1-row partials. Pass 2 (exact distincts only): Expand + pure-long
    // buffers → HashAggregate, map-side dedup. Both 1-row frames
    // combine with a broadcast cross join.
    val basicAggs = (numCols ++ strCols).flatMap { c =>
      Seq(count(col(c)).as(s"c_$c"),
        min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))
    }
    val basic = p.agg(count(lit(1)).as("n_rows"), basicAggs: _*)
    val dAggs = (numCols ++ strCols).map(c => countDistinct(col(c)).as(s"d_$c"))
    val distincts = p.agg(dAggs.head, dAggs.tail: _*)
    val row = basic.crossJoin(broadcast(distincts))
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    def entry(c: String, numeric: Boolean) = struct(
      lit(c).as("column"), col("n_rows"),
      (col("n_rows") - col(s"c_$c")).as("n_null"),
      col(s"d_$c").as("n_distinct"),
      (if (numeric) col(s"mn_$c").cast("double") else nullD).as("min_num"),
      (if (numeric) col(s"mx_$c").cast("double") else nullD).as("max_num"),
      (if (numeric) nullS else col(s"mn_$c")).as("min_str"),
      (if (numeric) nullS else col(s"mx_$c")).as("max_str"))
    row.select(explode(array(
        numCols.map(entry(_, numeric = true)) ++
          strCols.map(entry(_, numeric = false)): _*)).as("e"))
      .select(col("e.*"))
      .orderBy(col("column"))
  }

  /** Trailing RANGE-frame window sum (round 11) — the window feature
    * the rows-based family (`window_moving_avg`'s ROWS BETWEEN) cannot
    * express: per customer, revenue over the trailing 30 DAYS — a
    * VALUE-range frame, so a burst of same-day orders all land in one
    * frame and a gap shrinks it, exactly what "spend in the last 30
    * days" means. Ordered by integer epoch DAYS (ties collapse into
    * one frame position — RANGE semantics, identical in both engines)
    * with exact integer-cents sums; partitioned per customer, so the
    * sort is per-entity — the sessionize discipline, no global sort.
    *
    * Output: one row per order — (o_orderkey, o_custkey, day,
    * cents, trail30_cents, n_trail30), ordered by key. */
  def trailingRangeSum(orders: DataFrame, days: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val day = datediff(to_date(col("o_orderdate")),
      lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-(days - 1).toLong, 0L)
    orders.select(col("o_orderkey"), col("o_custkey"),
        day.as("day"), cents.as("cents"))
      .withColumn("trail30_cents", sum(col("cents")).over(w))
      .withColumn("n_trail30", count(lit(1)).over(w))
      .orderBy(col("o_orderkey"))
  }

  /** Day-of-week × hour activity HEATMAP (round 11) — the other
    * product-analytics staple beside [[dauMau]]: when is the audience
    * actually here. ≤ 7·24 cells at any corpus size from one
    * map-side-combinable aggregation; distinct actives per cell via a
    * (cell, user) pre-distinct (shuffle O(actives·cells-touched),
    * never O(events)). Day-of-week is pinned to ISO (1 = Monday)
    * because the engines disagree on the default convention (Spark
    * `dayofweek` is 1 = Sunday, DuckDB `dayofweek` 0 = Sunday;
    * Spark `weekday`+1 ≡ DuckDB `isodow` — the portable pair), hours
    * are UTC truncations under the session contract.
    *
    * Output: (dow_iso, hour, n_events, n_users), ordered. */
  def activityHeatmap(events: DataFrame): DataFrame = {
    val keyed = events.select(
      (weekday(col("ts")) + 1).cast("long").as("dow_iso"),
      hour(col("ts")).cast("long").as("hour"), col("user_id"))
    val cells = keyed.groupBy(col("dow_iso"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val users = keyed.distinct()
      .groupBy(col("dow_iso"), col("hour"))
      .agg(count(lit(1)).as("n_users"))
    cells.join(users, Seq("dow_iso", "hour"))
      .orderBy(col("dow_iso"), col("hour"))
  }

  /** ACTIVITY-STREAK histogram (round 11) — the engagement metric
    * gamified products headline ("your 7-day streak"), and the classic
    * GAPS-AND-ISLANDS pattern made explicit: per user, consecutive
    * active DAYS group into islands via the day − row_number trick
    * (consecutive days share the difference; a gap breaks it — no
    * self-join, no recursion), the longest island is the user's
    * streak, and users histogram by it. Both windows are per-user
    * (one shuffle, per-entity sort — sessionize discipline); the
    * output is ≤ max-streak rows at any corpus size.
    *
    * Output: (streak_days, n_users), ordered. */
  def activityStreaks(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col("ts")),
      lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
    val days = events.select(col("user_id"), day.as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("streak_days"))
      .groupBy(col("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("streak_days"))
  }

  /** DAU/MAU engagement report (round 11) — the product-analytics
    * headline metric: per month, monthly actives, the daily-active
    * profile, and stickiness (avg DAU / MAU — the DAU/MAU ratio every
    * growth dashboard leads with). Exact distinct counts (per-day and
    * per-month user sets — two map-side-combinable aggregations over
    * (day, user) / (month, user) distincts, shuffle O(actives), never
    * O(events)); the two divisions are the only doubles, fixed operand
    * order. Months are UTC calendar truncations — identical in both
    * engines under the session timezone contract.
    *
    * Output: (month, mau, n_days, sum_dau, avg_dau, stickiness),
    * ordered. */
  /** INTER-ARRIVAL HISTOGRAM (round 13) — per-user gaps between
    * consecutive events, log₂-bucketed: the burstiness fingerprint
    * behind every traffic model (a human session is ms–minutes, a
    * cron is a spike at one bucket, a bot floods bucket 1 — the
    * distribution SHAPE is the signal, which is why
    * `event_velocity_flag`'s single threshold sits beside it). Gaps
    * are exact µs off the (ts, event_id)-ordered per-user window (the
    * event_journey tiebreak discipline); the bucket is the INTEGER
    * bit-length surrogate length(bin(gap)) — the repo's no-logs
    * doctrine, ≤64 buckets at any scale. One per-user window pass +
    * one map-side-combinable ≤64-group aggregation.
    *
    * Output: (bucket, n_gaps, gap_min_us, gap_max_us), ordered. */
  def interarrivalHist(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select((unix_micros(col("ts")) - unix_micros(col("prev"))).as("gap"))
      .groupBy(expr("length(bin(gap))").as("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("gap_min_us"), max(col("gap")).as("gap_max_us"))
      .orderBy(col("bucket"))
  }

  /** CUSUM CHANGE DETECTION (round 13) — the cumulative-sum drift
    * detector over the daily event-count series: where
    * `event_anomaly`'s z-score flags single outlier days, CUSUM
    * accumulates SMALL persistent shifts until they cross a threshold
    * — the detector that catches a 10% regression a per-day test
    * never sees (Page 1954, public). ENGINE-EXACT: the series is the
    * gap-filled calendar day grid of event counts (a silent day is a
    * 0 — exactly the signal a drift detector must see), the reference
    * is the floor-div global mean, and the recurrence S_t =
    * max(0, S_{t−1} + x_t − mean) is pure BIGINT, folded in ONE
    * `aggregate()` HOF pass over the sorted bounded day list (the
    * [[holtForecast]] doctrine) with the alarm at S > 5·mean. The
    * oracle replays it as a recursive CTE.
    *
    * Output: (day, n_events, cusum, alarm), ordered. */
  def eventCusum(events: DataFrame): DataFrame = {
    val daily = events
      .select(date_trunc("day", col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val series = grid.join(broadcast(daily), Seq("day"), "left")
      .select(col("day"), coalesce(col("c"), lit(0L)).as("x"))
    val meanF = series.agg(
      expr("CAST(sum(x) div count(1) AS BIGINT)").as("mean"))
    val fold =
      "aggregate(" +
        "arr, " +
        "named_struct('s', 0L, 'out', CAST(array() AS " +
        "ARRAY<STRUCT<day: TIMESTAMP, x: BIGINT, s: BIGINT>>)), " +
        "(acc, e) -> named_struct(" +
        "'s', greatest(0L, acc.s + e.x - mean), " +
        "'out', concat(acc.out, array(named_struct('day', e.day, " +
        "'x', e.x, 's', greatest(0L, acc.s + e.x - mean))))))"
    series
      .agg(expr("sort_array(collect_list(struct(day, x)))").as("arr"))
      .crossJoin(broadcast(meanF))
      .select(col("mean"), explode(expr(s"$fold.out")).as("r"))
      .select(col("r.day").as("day"), col("r.x").as("n_events"),
        col("r.s").as("cusum"),
        (col("r.s") > lit(5L) * col("mean")).as("alarm"))
      .orderBy(col("day"))
  }

  /** NEW vs RETURNING users per day (round 13) — the growth
    * decomposition every activity dashboard opens with (is the DAU
    * curve acquisition or retention?), beside [[dauMau]]'s stickiness
    * ratio and `event_retention`'s cohort triangle. A user is NEW on
    * the day of their first event ever, RETURNING on any later active
    * day. Two shuffles, both on bounded relations: the per-user first
    * day over O(users) and the distinct (day, user) activity pairs;
    * the day column never gap-fills here — a day with zero events has
    * no new/returning split to report. Returning share in integer ppm
    * (non-negative — `div` ≡ `//`).
    *
    * Output: (day, active_users, new_users, returning_users,
    * returning_ppm), ordered by day. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val pairs = events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val firsts = pairs.groupBy(col("user_id")).agg(min(col("day")).as("fday"))
    pairs.join(firsts, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        sum(when(col("fday") === col("day"), 1L).otherwise(0L))
          .as("new_users"))
      .select(col("day"), col("active_users"), col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"),
        expr("CAST(((active_users - new_users) * 1000000) " +
          "div nullif(active_users, 0L) AS BIGINT)").as("returning_ppm"))
      .orderBy(col("day"))
  }

  /** WEEKLY CHURN FLOW (round 13) — the week-over-week user ledger:
    * of last week's actives, how many came back (retained) and how
    * many did not (churned) — the flow number behind
    * `event_retention`'s cohort triangle and the denominator-correct
    * churn rate every subscription review wants (churn is a share of
    * LAST week's actives, not this week's). Weeks are compared
    * CALENDAR-adjacent (week = prev + 7 days — a gap week INSIDE the
    * observed span reports retained = 0 / churn_ppm = 1000000, the
    * catastrophic row this operator exists to surface, rather than
    * splicing non-adjacent weeks; weeks past the corpus' last
    * observed week don't report — the data ended, the users didn't
    * churn. Weekly because the event corpus spans weeks, not years —
    * the granularity a product review actually runs). Distinct
    * (week, user) pairs are the only corpus-sized relation; one
    * self-equi-join on the shifted week + two bounded rollups + a
    * 1-row broadcast span bound; churn share in integer ppm.
    *
    * Output: (week, prev_actives, retained, churned, churn_ppm),
    * ordered — weeks with no previous calendar week absent by
    * construction. */
  def weeklyChurn(events: DataFrame): DataFrame = {
    val mu = events
      .select(date_trunc("week", col("ts")).as("week"), col("user_id"))
      .distinct()
    val actives = mu.groupBy(col("week")).agg(count(lit(1)).as("actives"))
    val prevActives = actives.select(
      expr("week + INTERVAL 7 DAY").as("week"),
      col("actives").as("prev_actives"))
    val retained = mu
      .join(mu.select(expr("week + INTERVAL 7 DAY").as("week"),
        col("user_id")), Seq("week", "user_id"))
      .groupBy(col("week")).agg(count(lit(1)).as("retained"))
    prevActives
      .crossJoin(broadcast(actives.agg(max(col("week")).as("max_week"))))
      .filter(col("week") <= col("max_week"))
      .join(retained, Seq("week"), "left")
      .select(col("week"), col("prev_actives"),
        coalesce(col("retained"), lit(0L)).as("retained"))
      .withColumn("churned", col("prev_actives") - col("retained"))
      .withColumn("churn_ppm", expr(
        "CAST((churned * 1000000) div nullif(prev_actives, 0L) AS BIGINT)"))
      .orderBy(col("week"))
  }

  def dauMau(events: DataFrame): DataFrame = {
    val keyed = events.select(
      date_trunc("month", col("ts")).as("month"),
      date_trunc("day", col("ts")).as("day"), col("user_id"))
    val dau = keyed.select(col("month"), col("day"), col("user_id"))
      .distinct()
      .groupBy(col("month"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val mau = keyed.select(col("month"), col("user_id")).distinct()
      .groupBy(col("month")).agg(count(lit(1)).as("mau"))
    mau.join(dau, Seq("month"))
      .withColumn("avg_dau",
        col("sum_dau").cast("double") / col("n_days"))
      .withColumn("stickiness", col("avg_dau") / col("mau"))
      .select(col("month"), col("mau"), col("n_days"), col("sum_dau"),
        col("avg_dau"), col("stickiness"))
      .orderBy(col("month"))
  }

  /** CHI-SQUARE independence test (round 11) — "does event mix depend
    * on the experiment arm": the contingency-table test every
    * experimentation platform runs next to the t-test
    * ([[abTestWelch]] compares means; χ² compares CATEGORY mixes).
    * Counts are exact; each cell's term is (O·n − r·c)²/(r·c·n)
    * computed from exact integers with ONE double division; and the
    * STATISTIC sums the ≤ types·arms terms through an ORDERED fold
    * (sort_array over (type, arm) then aggregate — Spark's collect and
    * DuckDB's list(... ORDER BY) add in the same sequence, so the
    * floating sum is bit-identical, where a groupBy SUM of doubles
    * would be partial-aggregation-order dependent). Cells ride along;
    * the statistic is a constant column (gate-frame style).
    *
    * Output: (event_type, arm, o, expected, term, chi2), ordered. */
  def chiSquare(events: DataFrame): DataFrame = {
    val observed = events
      .select(col("event_type"), (col("user_id") % 2).as("arm"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("o"))
    // STRUCTURAL ZERO CELLS: an empty cell is the strongest dependence
    // signal and contributes rc/n — the full type × arm grid (bounded,
    // distinct-of-distincts) left-joins the counts
    val cells = observed.select(col("event_type")).distinct()
      .crossJoin(observed.select(col("arm")).distinct())
      .join(observed, Seq("event_type", "arm"), "left")
      .select(col("event_type"), col("arm"),
        coalesce(col("o"), lit(0L)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("arm")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    val terms = cells
      .join(broadcast(rows), Seq("event_type"))
      .join(broadcast(cols), Seq("arm"))
      .crossJoin(broadcast(n))
      .withColumn("expected",
        (col("r") * col("c")).cast("double") / col("n"))
      .withColumn("term",
        ((col("o") * col("n") - col("r") * col("c")).cast("double") *
          (col("o") * col("n") - col("r") * col("c")).cast("double")) /
          (col("r") * col("c") * col("n")).cast("double"))
    val stat = terms
      .agg(aggregate(
        array_sort(collect_list(struct(col("event_type"), col("arm"),
          col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"))
    terms.select(col("event_type"), col("arm"), col("o"),
        col("expected"), col("term"))
      .crossJoin(broadcast(stat))
      .orderBy(col("event_type"), col("arm"))
  }

  /** MAD (median-absolute-deviation) outliers (round 11) — the ROBUST
    * sibling of `event_anomaly`'s z-score: mean/stddev are themselves
    * dragged by the outliers they hunt, so production monitoring flags
    * on |x − median| > k·MAD instead. Both medians come from the
    * deterministic md5-reservoir (the `sketch_quantiles` machinery —
    * bounded state, error replays bit-for-bit): pass 1 the per-type
    * value median, pass 2 the median absolute deviation (needs pass
    * 1's result — two bounded aggregations by construction, both
    * map-side partial); the flag is a pure-integer comparison in
    * scaled cents (|x−m|·1000 > 4448·MAD ≈ the classic 3σ-equivalent
    * 3·1.4826·MAD) — no float threshold to disagree on.
    *
    * Output: (event_type, n, median_cents, mad_cents, n_outliers),
    * ordered. */
  def madOutliers(events: DataFrame, r: Int = 256): DataFrame = {
    val cents = (dec2(col("value")) * 100).cast("long")
    val h = graft.functions.VectorFunctions
      .md5HexPrefix(col("event_id").cast("string"), 7)
    val keyed = events.select(col("event_type"), col("event_id"),
      cents.as("c")).withColumn("h", h)
    def med(df: DataFrame, vc: Column): DataFrame =
      df.groupBy(col("event_type"))
        .agg(graft.functions.BottomKAgg.bottomK(r)(col("h"), vc.cast("double"))
          .as("samp"))
        .select(col("event_type"), element_at(
          sort_array(transform(col("samp"), s => s.getField("_2"))),
          expr("CAST((50 * size(samp) + 99) div 100 AS INT)"))
          .cast("long").as("m"))
    val m1 = med(keyed, col("c")).withColumnRenamed("m", "median_cents")
    val dev = keyed.join(broadcast(m1), Seq("event_type"))
      .withColumn("ad", abs(col("c") - col("median_cents")))
    val m2 = med(dev, col("ad")).withColumnRenamed("m", "mad_cents")
    dev.join(broadcast(m2), Seq("event_type"))
      .groupBy(col("event_type"), col("median_cents"), col("mad_cents"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ad") * 1000 > col("mad_cents") * 4448, 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("median_cents"),
        col("mad_cents"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** TOP CONVERTING PATHS (round 11) — the path-to-conversion report
    * funnel tools ship beside the transition matrix ([[markovTransitions]]
    * is memoryless; paths keep the ORDER of the last `depth` steps):
    * for every target event, the exact sequence of the `depth`
    * preceding same-user events (older → newer, '-' padding when
    * history is short), counted and ranked. One per-user sort feeds
    * all `depth` lags (one shuffle — the sessionize discipline); the
    * path relation aggregates map-side to ≤ types^depth keys; top-k
    * via TakeOrdered on (n DESC, path).
    *
    * Output: (path, n), rank order. */
  def convertingPaths(events: DataFrame, target: String = "purchase",
                      depth: Int = 3, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(depth >= 1 && k >= 1, "need positive depth and k")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lags = (depth to 1 by -1).map(i =>
      coalesce(lag(col("event_type"), i).over(w), lit("-")))
    events
      .withColumn("path", concat_ws(">", lags: _*))
      .filter(col("event_type") === target)
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** First-order MARKOV transition matrix (round 11) — the journey-
    * analysis primitive behind "what do users do next": per user, order
    * events by (ts, event_id) and count each (prev_type → next_type)
    * transition, then the per-prev conditional probability. The window
    * is partitioned by user (one shuffle, per-user sort bounded by that
    * user's events — the sessionize discipline); the matrix is ≤
    * types² rows at any corpus size, and the probability is ONE IEEE
    * division over exact counts (n / row-total), deterministic
    * anywhere.
    *
    * Output: (prev_type, next_type, n, p_next), ordered. */
  def markovTransitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("row_total")).as("p_next"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** POINT-IN-TIME snapshot (round 11) — the query SCD2 historization
    * exists to answer: "what did the dimension look like at T". One
    * half-open interval containment filter over [[scd2]]'s versions
    * (valid_from ≤ T < valid_to, NULL = still open); entities whose
    * history starts after T are structurally absent — that IS the
    * state at T. The snapshot inherits scd2's one-shuffle shape; the
    * filter is narrow.
    *
    * Output: one row per entity alive at T — (user_id, attr,
    * valid_from, version), ordered. */
  def snapshotAt(events: DataFrame,
                 at: String = "2024-01-15 00:00:00"): DataFrame = {
    val t = lit(at).cast("timestamp")
    scd2(events)
      .filter(col("valid_from") <= t &&
        (col("valid_to").isNull || col("valid_to") > t))
      .select(col("user_id"), col("attr"), col("valid_from"),
        col("version"))
      .orderBy(col("user_id"))
  }

  /** COHORT LTV matrix (round 11) — the monetary sibling of
    * `event_retention`'s activity triangle: customers cohort by FIRST
    * order month, and each (cohort, months-since) cell reports active
    * customers and exact-cents revenue — the lifetime-value surface
    * every subscription/commerce dashboard draws. Months are exact
    * integer arithmetic (year·12 + month — no interval/months_between
    * semantics to disagree on); two map-side-combinable shuffles
    * (per-customer first month over O(customers), then the ≤
    * cohorts·offsets cell aggregation); actives are per-cell distincts
    * over (cell, customer) — O(active pairs), never O(orders).
    *
    * Output: (cohort_month, month_offset, n_active, cents), ordered. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val m = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val keyed = orders.select(col("o_custkey"), m.as("m"), cents.as("c"))
    val first = keyed.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    val cells = keyed.join(first, Seq("o_custkey"))
      .select(col("o_custkey"), col("m0").as("cohort_month"),
        (col("m") - col("m0")).as("month_offset"), col("c"))
    val rev = cells.groupBy(col("cohort_month"), col("month_offset"))
      .agg(sum(col("c")).as("cents"))
    val active = cells
      .select(col("cohort_month"), col("month_offset"), col("o_custkey"))
      .distinct()
      .groupBy(col("cohort_month"), col("month_offset"))
      .agg(count(lit(1)).as("n_active"))
    rev.join(active, Seq("cohort_month", "month_offset"))
      .select(col("cohort_month"), col("month_offset"), col("n_active"),
        col("cents"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  /** Per-group MODE (round 11) — the modal value, the aggregate SQL
    * forgot: the most frequent quantity per return flag, with its
    * support count and share. Two map-side-combinable aggregations
    * (value counts, then max_by over the ≤ distinct-values relation);
    * ties break toward the SMALLER value ((count desc, value asc) via
    * max_by on struct(cnt, −value) — deterministic anywhere). The
    * share is one IEEE division over exact counts.
    *
    * Output: (l_returnflag, mode_qty, mode_n, n_rows, mode_share),
    * ordered. */
  def modeByFlag(lineitem: DataFrame): DataFrame = {
    val counts = lineitem
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("l_returnflag"))
      .agg(max_by(col("q"), struct(col("cnt"), -col("q"))).as("mode_qty"),
        max(struct(col("cnt"), -col("q"))).getField("cnt").as("mode_n"),
        sum(col("cnt")).as("n_rows"))
      .withColumn("mode_share",
        col("mode_n").cast("double") / col("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** POWER-USER concentration (round 11) — the activity-skew headline
    * ("what share of events do the top 100 users produce"): per-user
    * event counts (one map-side-combinable shuffle over O(users)),
    * top-`k` users via TakeOrdered (partial per-partition top-k, a
    * k-row driver merge — never a global sort), their share as one
    * IEEE division. The concentration number is what decides salting
    * and skew-join strategy downstream, so it belongs on the board
    * next to `agg_salted`/`join_skew_salted`.
    *
    * Output: one row — (n_users, n_events, topk_users, topk_events,
    * topk_share). */
  def powerUserShare(events: DataFrame, k: Int = 100): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    val top = perUser.orderBy(col("n").desc, col("user_id")).limit(k)
    val topAgg = top.agg(count(lit(1)).as("topk_users"),
      sum(col("n")).as("topk_events"))
    perUser.agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
      .crossJoin(broadcast(topAgg))
      .withColumn("topk_share",
        col("topk_events").cast("double") / col("n_events"))
  }

  /** CONVERSION-LAG profile (round 11) — the funnel-latency metric
    * behind "how long from signup to first purchase": per user, the
    * µs lag between first signup and first purchase-after-signup
    * (users who never convert are COUNTED, not dropped — the
    * conversion rate is the first thing read off this report), then
    * the lag distribution via the engine's deterministic md5-reservoir
    * (the `sketch_quantiles`/`customer_rfm` machinery — bounded state,
    * the sampling error replays). One shuffle on user_id (two
    * conditional mins per user — no window, no sort), then the 1-row
    * bounded-state summary.
    *
    * Output: one row — (n_users, n_converted, p25_lag_us, p50_lag_us,
    * p75_lag_us), nulls when nobody converts (structural). */
  def conversionLag(events: DataFrame, fromType: String = "signup",
                    toType: String = "purchase", r: Int = 256): DataFrame = {
    val us = unix_micros(col("ts"))
    val perUser = events
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === fromType, us)).as("t_from"),
        count(lit(1)).as("n_ev"))
    // NOTE: the per-user frame is O(users) — an equi-join on the user
    // key (AQE picks the strategy), never a forced broadcast
    val firstTo = events
      .join(perUser.select(col("user_id"), col("t_from")), Seq("user_id"))
      .filter(col("event_type") === toType &&
        col("t_from").isNotNull && us >= col("t_from"))
      .groupBy(col("user_id"))
      .agg(min(us).as("t_to"))
    val lags = perUser.join(firstTo, Seq("user_id"), "left")
      .withColumn("lag_us",
        when(col("t_from").isNotNull && col("t_to").isNotNull,
          col("t_to") - col("t_from")))
    val counts = lags.agg(count(lit(1)).as("n_users"),
      count(col("lag_us")).as("n_converted"))
    // reservoir over CONVERTED users only (null values must never reach
    // the primitive-double aggregator); an all-unconverted corpus
    // yields the aggregator's empty zero and NULL percentiles
    val sk = lags.filter(col("lag_us").isNotNull)
      .withColumn("h", conv(substring(
        md5(col("user_id").cast("string")), 1, 7), 16, 10).cast("long"))
      .agg(graft.functions.BottomKAgg.bottomK(r)(
        col("h"), col("lag_us").cast("double")).as("samp"))
    val vals = sort_array(transform(col("samp"), s => s.getField("_2")))
    def q(p: Int): Column =
      when(size(col("samp")) > 0, element_at(vals,
        expr(s"CAST(($p * size(samp) + 99) div 100 AS INT)")))
    counts.crossJoin(broadcast(sk))
      .select(col("n_users"), col("n_converted"),
        q(25).as("p25_lag_us"), q(50).as("p50_lag_us"),
        q(75).as("p75_lag_us"))
  }

  /** OLS simple regression (round 11) — the line every BI tool draws:
    * per return flag, extendedprice regressed on quantity. Built on
    * the same exact-moments discipline as [[abTestWelch]] /
    * stats_corr: x = exact integer quantity, y = exact integer CENTS;
    * one map-side-combinable pass accumulates (n, Σx, Σy, Σx², Σxy)
    * as exact BIGINTs (n·Σxy ≲ 6e4·6e4·1e7·1e2 at sf0.1 — within
    * int64 here; at larger scale these moments move to DECIMAL(38)
    * sums, same shape); slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) and
    * intercept = (Σy − slope·Σx)/n are computed through an IDENTICAL
    * operation tree in both engines — fixed operand order,
    * bit-identical doubles.
    *
    * Output: (l_returnflag, n, sx, sy_cents, sxx, sxy, slope,
    * intercept), ordered. */
  def olsByFlag(lineitem: DataFrame): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = (dec2(col("l_extendedprice")) * 100).cast("long")
    val agg = lineitem.select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy_cents"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    val slope =
      (col("n").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy_cents").cast("double")) /
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
    agg.withColumn("slope", slope)
      .withColumn("intercept",
        (col("sy_cents").cast("double") - col("slope") *
          col("sx").cast("double")) / col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** A/B-TEST Welch's t (round 11) — the experiment-analysis primitive
    * every events warehouse serves: split users into two deterministic
    * arms (user_id parity — a pure function of the data, so the split
    * replays anywhere; a real assignment column drops in unchanged) and
    * test each event type's value for a between-arm difference.
    *
    * Exactness discipline: values are 2-decimal doubles → integer CENTS
    * via the decimal bridge; per (type, arm) count / sum / sum-of-
    * squares are EXACT BIGINTs from ONE map-side-combinable
    * conditional-aggregation pass (no self-join, no second scan); the
    * t statistic is computed from those integers through an identical
    * operation tree in both engines (sample variance
    * (Q − S²/n)/(n−1), Welch denominator √(v₁/n₁+v₀/n₀)) — fixed
    * operand order, bit-identical doubles, the stats_corr doctrine.
    * Cents cancel in t, so no rescaling. Arms with n < 2 would make
    * the variance undefined; the event corpus guarantees n ≫ 2 per
    * type and the fixture spec covers the arithmetic by hand.
    *
    * Output: (event_type, n0, n1, s0_cents, s1_cents, q0, q1, t_stat),
    * ordered. */
  def abTestWelch(events: DataFrame): DataFrame = {
    val cents = (dec2(col("value")) * 100).cast("long")
    val keyed = events.select(col("event_type"),
      (col("user_id") % 2).as("arm"), cents.as("c"))
    def armAgg(a: Int, e: Column) =
      sum(when(col("arm") === a, e).otherwise(lit(0L)))
    val agg = keyed.groupBy(col("event_type")).agg(
      armAgg(0, lit(1L)).as("n0"), armAgg(1, lit(1L)).as("n1"),
      armAgg(0, col("c")).as("s0_cents"), armAgg(1, col("c")).as("s1_cents"),
      armAgg(0, col("c") * col("c")).as("q0"),
      armAgg(1, col("c") * col("c")).as("q1"))
    def mean(s: Column, n: Column) = s.cast("double") / n
    def varS(q: Column, s: Column, n: Column) =
      (q.cast("double") - s.cast("double") * s.cast("double") / n) / (n - 1)
    agg.withColumn("t_stat",
        (mean(col("s1_cents"), col("n1")) - mean(col("s0_cents"), col("n0"))) /
          sqrt(varS(col("q1"), col("s1_cents"), col("n1")) / col("n1") +
            varS(col("q0"), col("s0_cents"), col("n0")) / col("n0")))
      .orderBy(col("event_type"))
  }

  /** SAMPLE-RATIO MISMATCH CHECK (round 13) — the sanity gate that
    * must pass BEFORE anyone reads [[abTestWelch]]'s t-statistic: if
    * the 50/50 assignment didn't actually land 50/50 over USERS, the
    * experiment is corrupted (a crashed variant, a bot filter applied
    * to one arm) and the effect size is meaningless — SRM is the
    * universally-recommended first check of every A/B readout. Units
    * are distinct users (assignment is per user; counting events would
    * let one heavy user skew the ratio); the χ² against the even split
    * collapses algebraically to (n₀−n₁)²/n — surfaced as the exact
    * integer numerator (n₀−n₁)² and ONE IEEE division (the no-drift
    * statistic doctrine), plus the arm imbalance in exact ppm. One
    * distinct-users pass + a 2-cell aggregation.
    *
    * Output (one row): n_users, n0, n1, imbalance_ppm, srm_chi2. */
  def srmCheck(events: DataFrame): DataFrame = {
    events.select(col("user_id")).distinct()
      .select((col("user_id") % 2).as("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("n_users"), col("n0"), col("n1"),
        expr("CAST((abs(n0 - n1) * 1000000) div nullif(n_users, 0L) " +
          "AS BIGINT)").as("imbalance_ppm"),
        (((col("n0") - col("n1")) * (col("n0") - col("n1")))
          .cast("double") / expr("nullif(n_users, 0L)")).as("srm_chi2"))
  }

  /** TPC-H Q6 forecasting-revenue-change (round 11) — the benchmark's
    * pure SCAN query, and the one that grades predicate pushdown: no
    * join, no group — one year of shipdate, a discount band and a
    * quantity cap, summed. At 100 TB this query IS its scan plan:
    * all three predicates must reach the parquet reader (shipdate
    * additionally prunes partitions in a date-partitioned lake) and the
    * projection must read 4 columns, not the relation — the
    * plan-invariant spec asserts both. Revenue = Σ price·discount in
    * the exact decimal domain (DECIMAL(12,2)·DECIMAL(3,2) products,
    * exact sum, ONE cast to double), the module's decimal-bridge
    * doctrine; the row count rides along as the audit column.
    *
    * Output: one row — (n_rows, revenue). */
  def q6ForecastRevenue(lineitem: DataFrame,
                        yearStart: String = "1996-01-01",
                        yearEnd: String = "1997-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
        col("l_shipdate") < lit(yearEnd).cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_rows"),
        sum(dec2(col("l_extendedprice")) *
          col("l_discount").cast(DecimalType(3, 2)))
          .cast("double").as("revenue"))

  /** UNPIVOT / melt (round 11) — the wide→long reshape dual of
    * [[pivotCounts]]: the four lineitem measures turn into (measure,
    * value) rows and aggregate per (flag, measure) — the shape every
    * metrics store and every "profile all measures in one query"
    * report needs. Uses Spark's native `unpivot` (plans as a single
    * Expand — one narrow pass over the scan, NO shuffle until the
    * final bounded groupBy; the same executor-side multiplication
    * profileTable's multi-distinct rides). Sums run in the exact
    * DECIMAL(12,2) domain and cast to double once at the end (the
    * module's decimal-bridge doctrine), so they are order-insensitive
    * and engine-exact; min/max are raw data values.
    *
    * Output: (l_returnflag, measure, n, vmin, vmax, vsum) — ≤
    * flags·4 rows at any scale, ordered. */
  def unpivotMeasures(lineitem: DataFrame): DataFrame =
    lineitem.unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        sum(dec2(col("value"))).cast("double").as("vsum"))
      .orderBy(col("l_returnflag"), col("measure"))

  /** RFM customer segmentation (round 11) — the classic marketing-
    * analytics cube: per customer, Recency (days since last order,
    * against the corpus max date), Frequency (order count) and Monetary
    * (lifetime spend, exact integer CENTS via the decimal bridge), each
    * banded 1–5 by its quintile edges, then the segment-grid report
    * (≤ 125 rows at any corpus size).
    *
    * The scale problem is the BANDING: classic NTILE(5) per dimension is
    * an unpartitioned global sort of every customer — the exact shape
    * `window_ntile` is allowed (per-flag partitions) and this op is not.
    * Instead the quintile edges come from the engine's deterministic
    * md5-reservoir ([[graft.functions.BottomKAgg]], the
    * `sketch_quantiles` machinery): ONE bounded-state aggregation yields
    * a 256-customer uniform sample per metric (same md5 keys → the same
    * sampled customers for all three), nearest-rank p20/p40/p60/p80
    * edges are extracted inside the projection, and each customer bands
    * by 4 comparisons against the broadcast 1-row edge frame — no
    * global sort anywhere, and the sampling error replays bit-for-bit
    * in the oracle. Band b = 1 + #edges strictly below the value, so
    * ties land deterministically in the lower band.
    *
    * Recency is banded on raw r_days (band 5 = LEAST recent); consumers
    * wanting the marketing convention (5 = most recent) read 6−band —
    * documented rather than inverted here so all three dimensions band
    * identically.
    *
    * Output: (r_band, f_band, m_band, n_customers, monetary_cents),
    * ordered. */
  def rfmSegments(orders: DataFrame, r: Int = 256): DataFrame = {
    require(r >= 5, s"reservoir must hold at least 5 rows, got $r")
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val cust = orders.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("f"), sum(cents).as("m"))
    val ref = orders.agg(max(col("o_orderdate")).as("ref_date"))
    val cm = cust.crossJoin(broadcast(ref))
      .withColumn("r_days",
        datediff(col("ref_date"), col("last_order")).cast("long"))
      .withColumn("h", conv(substring(
        md5(col("o_custkey").cast("string")), 1, 7), 16, 10).cast("long"))
    val sk = cm.agg(
      graft.functions.BottomKAgg.bottomK(r)(col("h"),
        col("r_days").cast("double")).as("sr"),
      graft.functions.BottomKAgg.bottomK(r)(col("h"),
        col("f").cast("double")).as("sf"),
      graft.functions.BottomKAgg.bottomK(r)(col("h"),
        col("m").cast("double")).as("sm"))
    // nearest-rank quintile edges over each sorted sample, all inside
    // the projection of the 1-row sketch frame
    def edges(samp: String, pfx: String): Seq[Column] = {
      val vals = sort_array(transform(col(samp), s => s.getField("_2")))
      Seq(20, 40, 60, 80).map(p => element_at(vals,
        expr(s"CAST(($p * size($samp) + 99) div 100 AS INT)"))
        .as(s"${pfx}$p"))
    }
    val edgeFrame = sk.select(
      edges("sr", "er") ++ edges("sf", "ef") ++ edges("sm", "em"): _*)
    def band(v: Column, pfx: String): Column =
      Seq(20, 40, 60, 80).map(p =>
        (v > col(s"$pfx$p")).cast("long")).reduce(_ + _) + 1L
    cm.crossJoin(broadcast(edgeFrame))
      .withColumn("r_band", band(col("r_days").cast("double"), "er"))
      .withColumn("f_band", band(col("f").cast("double"), "ef"))
      .withColumn("m_band", band(col("m").cast("double"), "em"))
      .groupBy(col("r_band"), col("f_band"), col("m_band"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("m")).as("monetary_cents"))
      .orderBy(col("r_band"), col("f_band"), col("m_band"))
  }

  /** Benford first-digit expected shares in ppm — round(log10(1+1/d)·10⁶)
    * per digit 1..9, computed ONCE here and inlined by both the engine
    * and the oracle generator (shared-constants doctrine: the law's
    * table cannot desync between the two sides). */
  val BenfordPpm: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** BENFORD'S-LAW AUDIT (round 12) — the classic fabricated-data /
    * ingestion-bug detector as a first-class data-quality query: the
    * first significant digit of a naturally-growing monetary amount
    * follows log10(1+1/d), and a pipeline that silently truncates,
    * pads, or synthesizes values shows up as a per-digit deviation long
    * before any schema check fires. Digit extraction is pure integer
    * arithmetic (exact DECIMAL cents → leading char of the decimal
    * string — no log10/pow on doubles anywhere near the data), the
    * expected table is the shared [[BenfordPpm]] constant, and the
    * output is integer ppm end to end, so the audit replays exactly.
    *
    * All 9 digit rows are STRUCTURAL (left join from the literal digit
    * frame): a digit with zero mass is a signal, not a missing row.
    *
    * Scale shape: one map-side-combinable 9-group aggregation over the
    * scan; everything after is 9-row broadcast frames. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    // leading decimal digit via the string form: exact at any scale
    // (a double log10 would mis-digit near powers of ten)
    val counts = orders
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val expected = BenfordPpm.toDF("digit", "benford_ppm")
    broadcast(expected)
      .join(counts, Seq("digit"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        expr("CAST((coalesce(n, 0L) * 1000000) div nullif(total, 0L) AS BIGINT)")
          .as("pct_ppm"),
        col("benford_ppm"),
        expr("CAST((coalesce(n, 0L) * 1000000) div nullif(total, 0L) - benford_ppm " +
          "AS BIGINT)").as("dev_ppm"))
      .orderBy(col("digit"))
  }

  /** BASKET-SIZE HISTOGRAM (round 13) — lineitems per order, the
    * order-shape distribution behind every picking/packing capacity
    * model and the co-order graph's fan-out bound (a basket of size k
    * contributes k·(k−1)/2 edges — this histogram IS the sizing input
    * for the bounded-bucket caps the graph family documents). Two
    * map-side-combinable aggregations (per-order count over O(orders),
    * then the ≤ max-basket histogram); shares in exact integer ppm.
    *
    * Output: (basket_size, n_orders, share_ppm), ordered. */
  def basketSizeHist(lineitem: DataFrame): DataFrame = {
    val per = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("sz"))
    val tot = per.agg(coalesce(count(lit(1)), lit(0L)).as("n_total"))
    per.groupBy(col("sz").as("basket_size"))
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(tot))
      .select(col("basket_size"), col("n_orders"),
        expr("CAST((n_orders * 1000000) div nullif(n_total, 0L) AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("basket_size"))
  }

  /** SUPPLIER CONCENTRATION — HHI per nation (round 13) — the
    * Herfindahl-Hirschman index Σ shareᵢ² over supplier revenue, the
    * antitrust-grade concentration number beside [[orderGini]]
    * (inequality of a numeric distribution) and [[customerDiversity]]
    * (categorical diversity): a nation whose parts all flow through
    * one supplier is a supply-chain risk no average reveals; 1/HHI is
    * the "effective supplier count". ENGINE-EXACT like its siblings:
    * per-supplier revenue in exact integer cents, Σ revᵢ² and total²
    * in DECIMAL(38,0) (squared warehouse revenue overflows int64 by
    * orders of magnitude), HHI = ONE fixed IEEE division through the
    * via-string bridge, eff = its reciprocal computed as the SAME tree
    * inverted (never 1/hhi — a second rounding). One lineitem
    * aggregation over O(suppliers), dims broadcast; ≤ nations rows.
    *
    * Output: (n_name, n_suppliers, total_cents, hhi, eff_suppliers),
    * ordered by nation. */
  def supplierHhi(lineitem: DataFrame, supplier: DataFrame,
                  nation: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast("string").cast("double")
    val cents = (dec2(col("l_extendedprice")) * 100).cast("long")
    val rev = lineitem
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(cents).as("r"))
    rev.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("total_cents"),
        sum(col("r").cast(dec) * col("r")).as("sq"))
      .select(col("n_name"), col("n_suppliers"), col("total_cents"),
        (d(col("sq")) /
          d(col("total_cents").cast(dec) * col("total_cents"))).as("hhi"),
        (d(col("total_cents").cast(dec) * col("total_cents")) /
          d(col("sq"))).as("eff_suppliers"))
      .orderBy(col("n_name"))
  }

  /** MARKET-SEGMENT DIVERSITY per nation (round 13) — Simpson's index
    * and its inverse (the "effective number of segments"), the
    * concentration readout for a CATEGORICAL distribution, beside
    * [[orderGini]]'s numeric one: a nation whose customers collapse
    * into one segment is a concentration risk the segment-count alone
    * hides. Shannon entropy is deliberately NOT here — it needs ln(),
    * and transcendental libm calls are not bit-portable across engines
    * (the repo-wide no-logs doctrine; Simpson is the exact-rational
    * diversity index). Accumulations are exact: per-(nation, segment)
    * counts, ss = Σ nᵢ(nᵢ−1) and nn = N(N−1) in DECIMAL(38,0) (pair
    * counts overflow int64 at warehouse scale), then TWO fixed-order
    * IEEE divisions through the via-string bridge: simpson =
    * (nn−ss)/nn (the probability two sampled customers differ),
    * eff_segments = nn/ss. One ≤ nations×segments aggregation, then a
    * ≤ nations rollup — nothing wider than the dimension grid ever
    * shuffles.
    *
    * Output: (n_name, n_customers, n_segments, simpson, eff_segments),
    * ordered by nation. */
  def customerDiversity(customer: DataFrame, nation: DataFrame)
      : DataFrame = {
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast("string").cast("double")
    val seg = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("ni"))
    seg.groupBy(col("n_name"))
      .agg(sum(col("ni")).as("n_customers"),
        count(lit(1)).as("n_segments"),
        sum(col("ni").cast(dec) * (col("ni") - 1L)).as("ss"))
      .withColumn("nn",
        col("n_customers").cast(dec) * (col("n_customers") - 1L))
      .select(col("n_name"), col("n_customers"), col("n_segments"),
        ((d(col("nn")) - d(col("ss"))) / d(col("nn"))).as("simpson"),
        (d(col("nn")) / d(col("ss"))).as("eff_segments"))
      .orderBy(col("n_name"))
  }

  /** MONTH-OF-YEAR SEASONALITY PROFILE (round 13) — revenue share per
    * calendar month pooled across years, the seasonal fingerprint that
    * names the cycle [[revenueAutocorr]] detects (and the
    * normalization every forecast divides out). Exact integer cents,
    * shares in integer ppm of the grand total (non-negative domain —
    * `div` ≡ `//`); all 12 month rows STRUCTURAL from the literal grid
    * (a dead December is a finding, not a missing row — the
    * [[benfordAudit]] doctrine). One map-side-combinable ≤12-group
    * aggregation over the scan; everything after is 12-row broadcast
    * frames.
    *
    * Output: (moy, n_orders, rev_cents, share_ppm), ordered. */
  def orderSeasonality(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val m = orders.select(month(col("o_orderdate")).as("moy"), cents.as("c"))
      .groupBy(col("moy"))
      .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("rev"))
    val total = m.agg(sum(col("rev")).as("total"))
    val grid = (1 to 12).toDF("moy")
    broadcast(grid).join(m, Seq("moy"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("moy"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("rev"), lit(0L)).as("rev_cents"),
        expr("CAST((coalesce(rev, 0L) * 1000000) div nullif(total, 0L) " +
          "AS BIGINT)").as("share_ppm"))
      .orderBy(col("moy"))
  }

  /** TRUNCATED EWMA (round 12) — the smoothing every monitoring /
    * forecasting readout runs, made EXACT: α=1/2 over the per-type
    * daily cents series, truncated at `depth` terms and scaled by
    * 2^`depth` so every weight is an integer power of two:
    * ewma_x1024 = Σ_{i<depth} v_{t−i}·2^(depth−1−i) in pure BIGINT
    * (the estimate is the value div 2^depth; the dropped tail is
    * < 2^-depth of old mass — the integer-surrogate doctrine applied
    * to smoothing). The window frame is the bounded lag chain,
    * partitioned by type — no unpartitioned window anywhere; the
    * oracle generates the SAME chain from the same loop bounds.
    *
    * `day` surfaces as midnight TIMESTAMP (DATE reads back as a python
    * date object on the oracle side but datetime64 from Spark's
    * parquet — the dtypes must agree). */
  def dailyEwma(events: DataFrame, depth: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth out of range: $depth")
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(12,2)")).as("v_dec"))
      .select(col("event_type"), col("day"),
        (col("v_dec") * 100).cast("long").as("v_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val terms = (col("v_cents") * lit(1L << (depth - 1))) +:
      (1 until depth).map(i =>
        coalesce(lag(col("v_cents"), i).over(w), lit(0L)) *
          lit(1L << (depth - 1 - i)))
    daily.select(col("event_type"),
        col("day").cast("timestamp").as("day"), col("v_cents"),
        terms.reduce(_ + _).as("ewma_x1024"))
      .orderBy(col("event_type"), col("day"))
  }

  /** REPEAT-PURCHASE CADENCE (round 12) — the retention readout next
    * to `customer_rfm`'s snapshot and `order_cohort_ltv`'s cohorts:
    * per repeat customer (≥ 2 orders), the exact day gaps between
    * consecutive orders — n_orders, total span, min/max gap and the
    * floor-div mean — the inputs of every replenishment model and
    * churn rule ("3× the usual gap with no order" is the classic
    * trigger). One (o_orderdate, o_orderkey)-ordered window pass per
    * customer + one map-side-combinable aggregation, all BIGINT days.
    * The single-purchase majority is excluded by the HAVING — they
    * have no cadence; counting them is `customer_rfm`'s job. */
  def repeatInterval(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_custkey"),
        datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w)).cast("long").as("gap_days"))
      .filter(col("gap_days").isNotNull)
    gaps.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_days")).as("min_gap_days"),
        max(col("gap_days")).as("max_gap_days"),
        sum(col("gap_days")).as("span_days"))
      .select(col("o_custkey"), (col("n_gaps") + 1L).as("n_orders"),
        col("min_gap_days"), col("max_gap_days"), col("span_days"),
        expr("span_days div n_gaps").as("mean_gap_days"))
      .orderBy(col("o_custkey"))
  }

  /** Bootstrap geometry, shared with the oracle generator: resample
    * count and the md5-percent thresholds of the Poisson(1) weight
    * approximation (P(0)≈37%, P(1)≈37%, P(2)≈18%, P(3)≈8% — the
    * integer-percent discretization both engines replay). */
  val BootstrapB: Int = 64
  val BootstrapW: Seq[(Int, Int)] = Seq(37 -> 0, 74 -> 1, 92 -> 2, 100 -> 3)

  /** BOOTSTRAP CONFIDENCE INTERVAL (round 12) — "how sure is that
    * mean": the resampling CI every metrics report should carry,
    * made DETERMINISTIC so it can sit under an exactness oracle. The
    * classic Poisson bootstrap (each row enters resample b with an
    * independent ~Poisson(1) count — the form that needs no global
    * row indexing and therefore scales) with the randomness replaced
    * by md5(key:b) percent draws discretized through [[BootstrapW]]:
    * reproducible under any partitioning, identical on any engine,
    * error-vs-true-Poisson documented (≤1% per mass point). Per
    * resample: exact integer cents sums → one fixed-order double
    * mean; the CI is the nearest-rank 2.5/97.5 percentile over the
    * [[BootstrapB]]-row frame (bounded — the only window; B = 64 keeps
    * both percentile ranks interior). ONE row
    * out: the observed mean, CI bounds, and the resample spread.
    *
    * Scale shape: one B-way row fan-out (narrow) + a B-group
    * map-side-combinable aggregation + a B-row bounded sort. */
  def bootstrapCi(orders: DataFrame, b: Int = BootstrapB): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val keyed = orders.select(col("o_orderkey"), cents.as("c"))
    // draws come from the native Md5SuffixDraws loop (one key-byte
    // fetch + b back-to-back digests per row) — byte-identical to the
    // conv(substring(md5(concat(key, ':', rb)), 1, 7), 16, 10) % 100
    // chain the oracle replays, without the per-(row, rb) string
    // format/parse pipeline behind explode(sequence(...))
    val resamples = keyed
      .select(col("c"), posexplode(graft.functions.VectorFunctions
          .md5SuffixDraws(col("o_orderkey").cast("string"), b, 100))
        .as(Seq("rb", "pct")))
      .withColumn("w",
        BootstrapW.foldRight(lit(0)) { case ((hi, wgt), els) =>
          when(col("pct") < hi, lit(wgt)).otherwise(els)
        })
      .groupBy(col("rb"))
      .agg(sum(col("w") * col("c")).as("sc"),
        sum(col("w")).as("n"))
      .select(col("rb"),
        (col("sc").cast("double") / col("n")).as("m"))
    val w = Window.orderBy(col("m"), col("rb"))
    val ranked = resamples.withColumn("rk", row_number().over(w))
    val lo = (2.5 / 100 * b).ceil.toInt.max(1)
    val hi = (97.5 / 100 * b).ceil.toInt.min(b)
    val obs = keyed.agg(
      (sum(col("c")).cast("double") / count(lit(1))).as("mean_obs"))
    ranked.agg(
        min(when(col("rk") === lo, col("m"))).as("ci_lo"),
        min(when(col("rk") === hi, col("m"))).as("ci_hi"),
        min(col("m")).as("m_min"), max(col("m")).as("m_max"),
        count(lit(1)).as("n_resamples"))
      .crossJoin(broadcast(obs))
      .select(col("n_resamples"), col("mean_obs"), col("ci_lo"),
        col("ci_hi"), col("m_min"), col("m_max"))
  }

  /** Permutation count for [[permutationTest]], shared with the oracle
    * generator (shared-constants doctrine). */
  val PermB: Int = 32

  /** SIGN TEST (round 16) — the assumption-minimal paired test under
    * [[wilcoxonSignedRank]]: same (day, day−7) pairs over the
    * gap-filled calendar, but only the SIGN of each difference counts
    * (no rank structure at all — immune even to the heavy-tail
    * asymmetry Wilcoxon's symmetric-distribution assumption trips on).
    * Zero differences drop (the standard convention); the statistic is
    * the exact integer z²·1000 = (n₊ − n₋)²·1000 div (n₊ + n₋) — the
    * square of the normal-approximation z with no continuity
    * correction (documented deterministic convention; B(n, ½) is
    * symmetric so z² is the two-sided readout). One daily aggregation
    * + a calendar-bounded lag — nothing row-scale after the scan.
    *
    * Output: one row (n_pairs, n_nonzero, n_pos, n_neg, z2_milli). */
  def signTest(orders: DataFrame): DataFrame =
    weekOverWeek(dailyRevenueSeries(orders)).agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("d") > 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_pos"),
        coalesce(sum(when(col("d") < 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_neg"))
      .select(col("n_pairs"), (col("n_pos") + col("n_neg")).as("n_nonzero"),
        col("n_pos"), col("n_neg"),
        expr("((n_pos - n_neg) * (n_pos - n_neg) * 1000) div " +
          "nullif(n_pos + n_neg, 0L)").as("z2_milli"))

  /** WILCOXON SIGNED-RANK (round 15) — the PAIRED nonparametric test
    * the unpaired [[mannWhitney]] cannot run: is this week's daily
    * revenue shifted against the SAME weekday last week? Pairs are
    * (day, day−7) over the gap-filled calendar grid (lag 7 over the
    * calendar — bounded, the autocorr discipline); zero differences
    * drop (the standard convention); |d| ranks with ties at their
    * AVERAGE rank via the DOUBLED-rank trick (2·c_lt + m + 1 per value
    * group — stays BIGINT, no halving division, the mannwhitney
    * doctrine), computed on the value-grouped |d| grid through
    * [[RankGrid.below]], never a row-level sort. W⁺ + W⁻ = n(n+1)
    * doubled — the identity the spec pins.
    *
    * Output: one row (n_days, n_pairs, n_nonzero, w_plus_doubled,
    * w_minus_doubled). */
  def wilcoxonSignedRank(orders: DataFrame): DataFrame = {
    val series = dailyRevenueSeries(orders)
    val diffs = weekOverWeek(series)
    val groups = diffs.filter(col("d") =!= 0L)
      .groupBy(abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("mpos"))
    // average rank of the tie group, doubled: 2·c_lt + m + 1
    val dr = col("m_lt") * 2 + col("m") + 1L
    val stats = RankGrid.below(groups, Nil, "ad", Seq("m")).agg(
      coalesce(sum(col("m")), lit(0L)).as("n_nonzero"),
      coalesce(sum(col("mpos") * dr), lit(0L)).as("w_plus_doubled"),
      coalesce(sum((col("m") - col("mpos")) * dr), lit(0L))
        .as("w_minus_doubled"))
    val counts = series.agg(count(lit(1)).as("n_days"))
      .crossJoin(diffs.agg(count(lit(1)).as("n_pairs")))
    counts.crossJoin(broadcast(stats))
      .select(col("n_days"), col("n_pairs"), col("n_nonzero"),
        col("w_plus_doubled"), col("w_minus_doubled"))
  }

  /** FRIEDMAN TEST (round 15) — the k-related-samples rank test
    * completing the nonparametric family ([[mannWhitney]] two
    * unpaired, [[wilcoxonSignedRank]] two paired, Friedman k paired):
    * do the 7 weekdays carry systematically different revenue, with
    * each WEEK as its own block so trend and level shifts cancel?
    * Complete Monday-start weeks only (a partial block would bias its
    * ranks); within each block the 7 daily revenues rank with ties at
    * their average via the DOUBLED-rank trick (2·c_lt + m + 1 per
    * (week, value) group — BIGINT end to end); per-dow rank sums stay
    * doubled, and the χ²_F statistic lands as one deterministic
    * integer division: with ΣR²_true = ΣR²_doubled/4,
    * χ²_F·1000 = (3000·ΣR²_d) div (n·k·(k+1)) − 3000·n·(k+1).
    * Blocks are calendar-bounded; the ranks come from
    * [[RankGrid.below]] keyed by week, over ≤ 7 value groups each.
    *
    * Output: (dow, n_blocks, r_sum_doubled, chi2f_milli), 7 rows,
    * ordered by dow (Spark dayofweek, 1 = Sunday). */
  def friedmanTest(orders: DataFrame): DataFrame = {
    val sums = friedmanRanks(orders).groupBy(col("dow"))
      .agg(countDistinct(col("week")).as("n_blocks"),
        sum(col("dr")).as("r_sum_doubled"))
    val chi = sums.agg(
        max(col("n_blocks")).as("n"),
        sum(col("r_sum_doubled") * col("r_sum_doubled")).as("ssq"))
      .select(expr("CAST(CASE WHEN n = 0 THEN NULL ELSE " +
        "(3000 * ssq) div (n * 7 * 8) - 3000 * n * 8 END AS BIGINT)")
        .as("chi2f_milli"))
    sums.crossJoin(broadcast(chi))
      .select(col("dow"), col("n_blocks"), col("r_sum_doubled"),
        col("chi2f_milli"))
      .orderBy(col("dow"))
  }

  /** Doubled average ranks of daily revenue within complete calendar
    * weeks — the [[friedmanTest]] block design factored out so its
    * post-hoc consumers ([[nemenyiPairs]], [[pageTrend]]) rank once:
    * gap-filled daily grid, complete (7-day) weeks only, per-week
    * value-grouped average ranks doubled so ties stay BIGINT.
    * Returns (week, dow, dr). */
  private def friedmanRanks(orders: DataFrame): DataFrame = {
    val series = dailyRevenueSeries(orders)
      .select(date_trunc("week", col("day")).as("week"),
        dayofweek(col("day")).cast("long").as("dow"), col("x"))
    val complete = series.groupBy(col("week"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") === 7L)
      .select(col("week"))
    val blocks = series.join(broadcast(complete), Seq("week"), "left_semi")
    val groups = blocks.groupBy(col("week"), col("x"))
      .agg(count(lit(1)).as("m"))
    val dr = RankGrid.below(groups, Seq("week"), "x", Seq("m"))
      .select(col("week"), col("x"),
        (col("m_lt") * 2 + col("m") + 1L).as("dr"))
    blocks.join(dr, Seq("week", "x"))
      .select(col("week"), col("dow"), col("dr"))
  }

  /** NEMENYI POST-HOC RANK GAPS (round 16) — the pairwise readout that
    * follows [[friedmanTest]]'s omnibus answer: WHICH weekday pairs
    * differ, and by how much relative to the critical difference. Per
    * dow pair (a < b), the doubled-rank-sum gap, the mean-rank gap in
    * exact milli, and `crit_ratio_ppm` — the squared gap over the
    * squared Nemenyi critical difference at α = 0.05 (Demšar's
    * q₇ = 2.949, carried as the exact rational q²·10⁶ = 8696601) in
    * ppm: ≥ 10⁶ means the pair clears CD. GRADED, not a flag — on a
    * calendar-uniform warehouse every pair sits far below 10⁶ (the
    * honest answer), and the spec proves the ≥ 10⁶ branch on a
    * seasonal hand fixture. Identity: mean-rank gap = gap_doubled/2n,
    * CD² = q²k(k+1)/(6n) ⇒ ratio = gap²·6·10⁶·10⁶ div (q²µ·4·k(k+1)·n)
    * — all DECIMAL(38,0)-exact, one ≤ 7-row rollup then a 21-row
    * self-join, nothing data-scale-shaped after the daily aggregation.
    *
    * Output: (dow_a, dow_b, n_blocks, gap_doubled, gap_mean_milli,
    * crit_ratio_ppm), 21 rows ordered by (dow_a, dow_b). */
  def nemenyiPairs(orders: DataFrame): DataFrame = {
    val sums = friedmanRanks(orders).groupBy(col("dow"))
      .agg(countDistinct(col("week")).as("n"), sum(col("dr")).as("r"))
    val a = sums.select(col("dow").as("dow_a"), col("n"), col("r").as("ra"))
    val b = sums.select(col("dow").as("dow_b"), col("r").as("rb"))
    a.join(b, col("dow_a") < col("dow_b"))
      .select(col("dow_a"), col("dow_b"), col("n").as("n_blocks"),
        abs(col("ra") - col("rb")).as("gap_doubled"))
      .select(col("dow_a"), col("dow_b"), col("n_blocks"),
        col("gap_doubled"),
        expr("(gap_doubled * 500) div nullif(n_blocks, 0L)")
          .as("gap_mean_milli"),
        expr("CAST((CAST(gap_doubled AS DECIMAL(38,0)) * gap_doubled " +
          "* 6000000 * 1000000) div " +
          "(8696601L * 224 * nullif(n_blocks, 0L)) AS BIGINT)")
          .as("crit_ratio_ppm"))
      .orderBy(col("dow_a"), col("dow_b"))
  }

  /** PAGE TREND TEST (round 16) — the ordered-alternative sibling of
    * [[friedmanTest]]: is revenue MONOTONE across the week (Mon→Sun),
    * not merely different somewhere? L = Σ position·R̄(dow) over the
    * same complete-week doubled ranks (position = Spark dow, 1=Sunday);
    * under H₀, E[L₂ₓ] = n·k(k+1)²/2 = 224n and Var[L₂ₓ] =
    * 4·n·k²(k+1)(k²−1)/144 = 1568n/3 (the classic untied-variance
    * convention — the deterministic reference constant; ties make it
    * conservative, documented). z²·1000 = ((L₂ₓ−224n)²·3000) div
    * (1568·n) — exact integers end-to-end, one 7-row rollup.
    *
    * Output: one row (n_blocks, l_doubled, e_l_doubled, trend_sign,
    * z2_milli). */
  def pageTrend(orders: DataFrame): DataFrame = {
    friedmanRanks(orders)
      .agg((countDistinct(col("week"))).as("n_blocks"),
        sum(col("dow") * col("dr")).as("l_doubled"))
      .select(col("n_blocks"), col("l_doubled"),
        (col("n_blocks") * 224L).as("e_l_doubled"),
        signum((col("l_doubled") - col("n_blocks") * 224L).cast("double"))
          .cast("long").as("trend_sign"),
        expr("CAST((CAST(l_doubled - n_blocks * 224 AS DECIMAL(38,0)) * " +
          "(l_doubled - n_blocks * 224) * 3000) div " +
          "(1568L * nullif(n_blocks, 0L)) AS BIGINT)").as("z2_milli"))
  }

  /** ROLLING 7-DAY ACTIVE USERS (round 15) — the WAU-by-day curve
    * between [[dauMau]]'s two fixed grains: per calendar day, the
    * count of DISTINCT users active in the trailing 7 days. Distinct
    * counts don't slide (a window can't subtract a user who is still
    * inside it), so the scalable form is contribution fan-out: dedupe
    * to (user, day) pairs first (the big shuffle, map-side
    * combinable), fan each pair out to the ≤ 7 calendar days it keeps
    * the user active for (a NARROW 7× multiply of the already-deduped
    * relation — never of raw events), and count distinct per day.
    * Days beyond the observed max are clipped; the first 6 days read
    * a partial (growing) window — the honest convention, flagged by
    * `full_window`. The curve covers EVERY calendar day in lo..hi
    * (round 16, advisor): a day whose trailing 7 days saw zero
    * activity reads wau7 = 0 explicitly — the repo-wide gap-fill
    * doctrine (a dead week is a finding, not a missing row).
    *
    * Output: (day, dau, wau7, full_window), ordered. */
  def rollingWau(events: DataFrame): DataFrame =
    rollingWauFromPairs(events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct())

  /** The aggregation tail of [[rollingWau]] over an already-distinct
    * (day, user_id) pair relation — shared with the streaming parity
    * replay, whose exactly-once pair extraction IS the part under
    * test. */
  private[graft] def rollingWauFromPairs(pairs: DataFrame): DataFrame = {
    val bounds = pairs.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val contrib = pairs
      .select(col("user_id"), explode(sequence(col("day"),
        expr("day + interval 6 day"), expr("interval 1 day"))).as("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("hi"))
    val wau = contrib.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    val dau = pairs.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    // full calendar grid lo..hi (calendar-bounded, broadcastable):
    // a dead day joins nothing and surfaces as an explicit zero row
    val grid = bounds.filter(col("lo").isNotNull)
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    grid.join(broadcast(wau), Seq("day"), "left")
      .join(broadcast(dau), Seq("day"), "left")
      .crossJoin(broadcast(bounds))
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau7"), lit(0L)).as("wau7"),
        (col("day") >= expr("lo + interval 6 day")).as("full_window"))
      .orderBy(col("day"))
  }

  /** PERMUTATION TEST (round 15) — the assumption-free significance
    * readout beside [[welchT2]] (whose t assumes near-normal tails):
    * under H₀ the arm labels are exchangeable, so re-draw them B times
    * (deterministic md5(event_id:b) % 2 — the [[bootstrapCi]] resample
    * doctrine, no RNG state) and count permuted |mean gaps| at least
    * the observed one. The comparison happens ENTIRELY in the integer
    * domain: |s₁n₀ − s₀n₁| · (n₀ᵒn₁ᵒ) ≥ |s₁ᵒn₀ᵒ − s₀ᵒn₁ᵒ| · (n₀n₁)
    * cross-multiplied in DECIMAL(38,0) — no division, no doubles, no
    * ulp ambiguity at the ≥ boundary. p uses the permutation
    * convention (n_ge + 1)/(B + 1) in exact milli. Scale shape: one
    * narrow B-way fan-out + a B-group map-side-combinable aggregate +
    * a broadcast of the 1-row observed statistic.
    *
    * Output: one row (event_type, n0, n1, n_perms, n_ge, p_milli). */
  def permutationTest(events: DataFrame, eventType: String = "purchase",
                      b: Int = PermB): DataFrame = {
    val dec = DecimalType(38, 0)
    val c = (dec2(col("value")) * 100).cast("long")
    val keyed = events.filter(col("event_type") === eventType)
      .select(col("event_id"), (col("user_id") % 2).cast("int").as("arm"),
        c.as("c"))
    def armAgg(df: DataFrame, armCol: Column, grp: Seq[Column]) = {
      val base = df.groupBy(grp: _*)
      base.agg(
        sum(when(armCol === 0, 1L).otherwise(0L)).as("n0"),
        coalesce(sum(when(armCol === 0, col("c").cast(dec))),
          lit(0).cast(dec)).as("s0"),
        sum(when(armCol === 1, 1L).otherwise(0L)).as("n1"),
        coalesce(sum(when(armCol === 1, col("c").cast(dec))),
          lit(0).cast(dec)).as("s1"))
    }
    val gap = expr("abs(s1 * CAST(n0 AS DECIMAL(38,0)) - " +
      "s0 * CAST(n1 AS DECIMAL(38,0)))")
    val obs = armAgg(keyed, col("arm"), Seq.empty)
      .select(col("n0").as("n0o"), col("n1").as("n1o"), gap.as("gapo"))
    val perms = keyed
      .select(col("c"), posexplode(graft.functions.VectorFunctions
          .md5SuffixDraws(col("event_id").cast("string"), b, 2))
        .as(Seq("rb", "d")))
      .select(col("c"), col("rb"), col("d").cast("int").as("parm"))
    val perRb = armAgg(perms, col("parm"), Seq(col("rb")))
      .select(col("rb"), col("n0"), col("n1"), gap.as("gapb"))
    perRb.crossJoin(broadcast(obs))
      // cross-multiplied exact comparison; a permutation that lands an
      // empty arm (n0·n1 = 0) counts as ≥ by convention (its gap is
      // maximal in the normalized sense) — both engines identically
      .select(when(col("n0") === 0L || col("n1") === 0L, 1L)
        .otherwise(when(
          col("gapb") * expr("CAST(n0o AS DECIMAL(38,0)) * n1o") >=
            col("gapo") * expr("CAST(n0 AS DECIMAL(38,0)) * n1"),
          1L).otherwise(0L)).as("ge"),
        col("n0"), col("n1"))
      .agg(count(lit(1)).as("n_perms"), sum(col("ge")).as("n_ge"))
      .crossJoin(broadcast(armAgg(keyed, col("arm"), Seq.empty)
        .select(col("n0"), col("n1"))))
      .select(lit(eventType).as("event_type"), col("n0"), col("n1"),
        col("n_perms"), col("n_ge"),
        expr(s"((n_ge + 1) * 1000) div ${b + 1}L").as("p_milli"))
  }

  /** WELCH'S TWO-SAMPLE t² (round 12) — "are these two value
    * distributions actually different": the A/B readout that, unlike
    * `event_ab_test`'s effect summary, carries its own significance
    * statistic; Welch's (unequal-variance) form because real event
    * segments never share a variance. The [[groupedCorrelation]]
    * doctrine applied once more: every ACCUMULATION is an exact
    * integer (per-group n, Σcents, Σcents²) so the result is
    * partition-order-insensitive, and the final t² is one fixed-order
    * double expression over those exacts — the same operation tree on
    * both engines, bit-identical. Means/variances/t² never touch a
    * running float sum. ONE row out; a group with n < 2 yields the
    * IEEE result of the shared tree (both engines agree by
    * construction). */
  def welchT2(events: DataFrame, typeA: String = "click",
              typeB: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val t = col("event_type")
    events.filter(t === typeA || t === typeB)
      .select(t.as("ty"), cents.as("c"))
      .agg(
        sum(when(col("ty") === typeA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("ty") === typeA, col("c"))).as("s_a"),
        sum(when(col("ty") === typeA, col("c") * col("c"))).as("q_a"),
        sum(when(col("ty") === typeB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("ty") === typeB, col("c"))).as("s_b"),
        sum(when(col("ty") === typeB, col("c") * col("c"))).as("q_b"))
      .select(col("n_a"), col("n_b"), col("s_a"), col("s_b"),
        expr(WelchTail("mean_diff_cents")).as("mean_diff_cents"),
        expr(WelchTail("t2")).as("t2"))
  }

  /** The SHARED fixed-order double tail of [[welchT2]] — one SQL text,
    * interpolated verbatim into both the engine expression and the
    * DuckDB oracle, so the operation tree cannot diverge. */
  private[graft] def WelchTail(what: String): String = {
    val ma = "(CAST(s_a AS DOUBLE) / n_a)"
    val mb = "(CAST(s_b AS DOUBLE) / n_b)"
    val va = "((CAST(q_a AS DOUBLE) - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) / n_a) / (n_a - 1))"
    val vb = "((CAST(q_b AS DOUBLE) - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) / n_b) / (n_b - 1))"
    what match {
      case "mean_diff_cents" => s"$ma - $mb"
      case "t2" =>
        s"(($ma - $mb) * ($ma - $mb)) / ($va / n_a + $vb / n_b)"
    }
  }

  /** MONTH-OVER-MONTH REVENUE GROWTH (round 13) — the trend report
    * beside [[orderBacklog]]'s inventory curve: monthly revenue in
    * exact cents, previous month by LAG over the calendar-bounded
    * month grid, growth in integer ppm of the previous month
    * (sign-split div — a negative delta must floor identically on
    * both engines; NULL on the first month and after a zero month,
    * structural). Output: (month, rev_cents, prev_cents, growth_ppm),
    * ordered. */
  def orderMonthlyGrowth(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val w = Window.orderBy(col("month"))
    orders.select(date_trunc("month", col("o_orderdate")).as("month"),
        cents.as("c"))
      .groupBy(col("month")).agg(sum(col("c")).as("rev_cents"))
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("growth_ppm", expr(
        "CASE WHEN rev_cents - prev_cents < 0 " +
          "THEN -((-(rev_cents - prev_cents) * 1000000) div nullif(prev_cents, 0L)) " +
          "ELSE ((rev_cents - prev_cents) * 1000000) div nullif(prev_cents, 0L) END"))
      .orderBy(col("month"))
  }

  /** REVENUE WATERFALL per ship-month (round 16) — the finance
    * decomposition every revenue dashboard draws before any trend:
    * gross book price → discount given → net → tax collected →
    * charged, each an EXACT integer at its own scale (the q14/q8
    * multiply-away-the-scale doctrine): gross in cents,
    * discount/net as cents·(d·100) sums (scale 10⁴), charged as
    * cents·(100−d100)·(100+t100) (scale 10⁶) — all BIGINT-safe sums,
    * each surfaced as truncated cents by ONE non-negative `div` per
    * group AFTER the sum (never per row — per-row truncation
    * accumulates error both engines would have to replicate term by
    * term). One map-side-combinable aggregation over the scan;
    * observed ship-months (the [[orderMonthlyGrowth]] grain).
    *
    * Output: (month, n_lines, gross_cents, disc_cents, net_cents,
    * tax_cents, charged_cents), ordered. */
  def revenueWaterfall(lineitem: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val d100 = (col("l_discount").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val t100 = (col("l_tax").cast(DecimalType(12, 2)) * 100).cast("long")
    lineitem
      .select(date_trunc("month", col("l_shipdate")).as("month"),
        cents.as("c"), d100.as("d"), t100.as("t"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("c")).as("gross_cents"),
        sum(col("c").cast(dec) * col("d")).as("disc4"),
        sum(col("c").cast(dec) * (lit(100L) - col("d"))).as("net4"),
        sum(col("c").cast(dec) * (lit(100L) - col("d")) * col("t"))
          .as("tax6"),
        sum(col("c").cast(dec) * (lit(100L) - col("d")) *
          (lit(100L) + col("t"))).as("charged6"))
      .select(col("month"), col("n_lines"), col("gross_cents"),
        expr("CAST(disc4 div 100 AS BIGINT)").as("disc_cents"),
        expr("CAST(net4 div 100 AS BIGINT)").as("net_cents"),
        expr("CAST(tax6 div 10000 AS BIGINT)").as("tax_cents"),
        expr("CAST(charged6 div 10000 AS BIGINT)").as("charged_cents"))
      .orderBy(col("month"))
  }

  /** SPEARMAN RANK CORRELATION (round 13) — [[groupedCorrelation]]'s
    * robust sibling: Pearson on RANKS, so a monotone-but-nonlinear
    * relation (price vs quantity under tiered pricing) still scores,
    * and outliers stop dominating. Exactness composition of two
    * proven doctrines: ranks are the DOUBLED tied average ranks from
    * value-grouped grid through [[RankGrid.below]] (rho is
    * invariant to the ×2), rank moments accumulate in DECIMAL(38,0)
    * (rank sums overflow int64 at warehouse scale), and the final
    * Pearson-on-ranks expression goes through the decimal→STRING→
    * double bridge ([[groupedCorrelation]]'s bit-identity trick) with
    * one fixed operation tree. The quantity grid (integral 1..50, one
    * window) broadcasts; the price grid (cents, which grow with the
    * data: [[RankGrid.belowBucketed]]) joins on the cents key.
    *
    * Output (one row): n, spearman_rho. */
  def spearmanCorr(lineitem: DataFrame): DataFrame = {
    val rows = lineitem.select(
      col("l_quantity").cast("long").as("x"),
      (col("l_extendedprice").cast(DecimalType(12, 2)) * 100).cast("long")
        .as("y"))
    def grid(c: String) = rows.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
    def rankTable(ranked: DataFrame, c: String) =
      ranked.select(col(c), (col("cnt_lt") * 2L + col("cnt") + 1L).as(s"r_$c"))
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast("string").cast("double")
    rows
      .join(broadcast(rankTable(
        RankGrid.below(grid("x"), Nil, "x", Seq("cnt")), "x")), "x")
      .join(rankTable(
        RankGrid.belowBucketed(grid("y"), Nil, "y", Seq("cnt")), "y"), "y")
      .agg(count(lit(1)).as("n"),
        sum(col("r_x").cast(dec)).as("sx"),
        sum(col("r_y").cast(dec)).as("sy"),
        sum(col("r_x").cast(dec) * col("r_y")).as("sxy"),
        sum(col("r_x").cast(dec) * col("r_x")).as("sxx"),
        sum(col("r_y").cast(dec) * col("r_y")).as("syy"))
      .select(col("n"),
        ((col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            sqrt(col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("spearman_rho"))
  }

  /** The GAP-FILLED daily revenue series (exact cents over the
    * calendar-bounded day grid), (day, x) — shared by every daily
    * time-series readout so no two can disagree on what the series
    * is. */
  private def dailyRevenueSeries(orders: DataFrame): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val daily = orders
      .select(date_trunc("DAY", col("o_orderdate")).as("day"), cents.as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    grid.join(broadcast(daily), Seq("day"), "left")
      .select(col("day"), coalesce(col("rev"), lit(0L)).as("x"))
  }

  /** The lag-7 differences of a daily `series` (day, x): (day, d) for
    * every grid day with a same-weekday predecessor — the pairs of
    * [[signTest]], [[wilcoxonSignedRank]] and [[hodgesLehmann]]. */
  private def weekOverWeek(series: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    series
      .withColumn("prev", lag(col("x"), 7).over(Window.orderBy(col("day"))))
      .filter(col("prev").isNotNull)
      .select(col("day"), (col("x") - col("prev")).as("d"))
  }

  /** REVENUE AUTOCORRELATION (round 13) — the ACF at lags 1..maxLag
    * over the DAILY revenue series, the weekly-cycle detector that
    * decides whether [[orderMonthlyGrowth]]'s trend needs seasonal
    * adjustment (a lag-7 spike = weekday cycle). The series is the
    * GAP-FILLED calendar day grid (a no-order day is a 0, not a
    * missing row — skipping gaps would splice non-adjacent days into
    * fake pairs); the grid is calendar-bounded, so the one
    * unpartitioned window pass runs over days, never rows (the
    * [[orderMonthlyGrowth]] bounded-frame doctrine). Exactness is the
    * [[spearmanCorr]] composition: exact integer cents, moments in
    * DECIMAL(38,0) (daily-revenue cross products overflow int64 at
    * warehouse scale), the decimal→STRING→double bridge, ONE fixed
    * Pearson tree per lag. All maxLag lags come out of a single
    * window pass + posexplode — one aggregation, not maxLag scans.
    *
    * Output: (acf_lag, n, acf), ordered by lag. */
  def revenueAutocorr(orders: DataFrame, maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val series = dailyRevenueSeries(orders)
    val w = Window.orderBy(col("day"))
    val lagged = series.select(col("x") +:
      (1 to maxLag).map(l => lag(col("x"), l).over(w).as(s"y$l")): _*)
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast("string").cast("double")
    lagged
      .select(col("x"), posexplode(array(
        (1 to maxLag).map(l => col(s"y$l")): _*)).as(Seq("pos", "y")))
      .filter(col("y").isNotNull)
      .groupBy((col("pos") + 1).as("acf_lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"))
      .select(col("acf_lag"), col("n"),
        ((col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            sqrt(col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("acf"))
      .orderBy(col("acf_lag"))
  }

  /** Truncating integer halve, portable across engines: Spark `div`
    * truncates while DuckDB `//` floors, so negative operands (a
    * declining trend) must go through the explicit sign split. The
    * oracle interpolates the same text shape with `//`. */
  private def halveSql(v: String): String =
    s"CASE WHEN ($v) < 0 THEN -((-($v)) div 2) ELSE ($v) div 2 END"

  /** HOLT DOUBLE-EXPONENTIAL FORECAST (round 13) — level+trend
    * smoothing over the monthly revenue series: the one-step-ahead
    * forecast every capacity plan runs when [[orderSeasonality]] says
    * the cycle is flat but the trend is not. Made ENGINE-EXACT by the
    * integer-surrogate doctrine ([[dailyEwma]]'s): α = β = 1/2 turns
    * both smoothing updates into integer halvings (sign-split — the
    * trend goes negative on decline), so the whole state trajectory is
    * BIGINT and replays bit-for-bit. l' = (x + (l+t)) div 2,
    * t' = ((l'−l) + t) div 2, seeded l₀ = x₀, t₀ = 0; forecast for
    * month i is the PRIOR state's l+t (NULL on the seed month —
    * nothing to forecast from). The sequential recurrence folds in ONE
    * `aggregate()` HOF pass over the sorted gap-filled month list (the
    * per-row-DP doctrine: the grid is calendar-bounded, so the list is
    * months, never rows — one aggregation job, no checkpoint chain);
    * the oracle replays it as a recursive CTE over the same grid.
    *
    * Output: (month, rev_cents, forecast_cents, err_cents), ordered. */
  def holtForecast(orders: DataFrame): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val monthly = orders
      .select(date_trunc("month", col("o_orderdate")).as("month"),
        cents.as("c"))
      .groupBy(col("month")).agg(sum(col("c")).as("rev"))
    val grid = monthly
      .agg(min(col("month")).as("lo"), max(col("month")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 month"))).as("month"))
    val series = grid.join(broadcast(monthly), Seq("month"), "left")
      .select(col("month"), coalesce(col("rev"), lit(0L)).as("x"))
    val lNew = halveSql("e.x + acc.l + acc.t")
    val fold =
      "aggregate(" +
        "sort_array(collect_list(struct(month, x))), " +
        "named_struct('l', 0L, 't', 0L, 'first', true, " +
        "'out', CAST(array() AS " +
        "ARRAY<STRUCT<month: TIMESTAMP, x: BIGINT, fc: BIGINT>>)), " +
        "(acc, e) -> CASE WHEN acc.first THEN named_struct(" +
        "'l', e.x, 't', 0L, 'first', false, " +
        "'out', array(named_struct('month', e.month, 'x', e.x, " +
        "'fc', CAST(NULL AS BIGINT)))) " +
        s"ELSE named_struct('l', $lNew, " +
        s"'t', ${halveSql(s"($lNew) - acc.l + acc.t")}, 'first', false, " +
        "'out', concat(acc.out, array(named_struct('month', e.month, " +
        "'x', e.x, 'fc', acc.l + acc.t)))) END)"
    series
      .agg(expr(fold).as("st"))
      .select(explode(col("st.out")).as("r"))
      .select(col("r.month").as("month"), col("r.x").as("rev_cents"),
        col("r.fc").as("forecast_cents"),
        (col("r.x") - col("r.fc")).as("err_cents"))
      .orderBy(col("month"))
  }

  /** HOLT-WINTERS ADDITIVE FORECAST (round 15) — [[holtForecast]]
    * plus a DAY-OF-WEEK seasonal component over the DAILY revenue
    * series: the forecast a weekly-cyclic business actually needs
    * (Holt alone chases the Monday dip every single week). Additive
    * triple smoothing with α = β = γ = 1/2 so every update is one
    * truncating integer halve (the portable [[halveSql]] sign split —
    * no float state): level l' = ½(deseasonalized x + l + t), trend
    * t' = ½(l' − l + t), season s'[dow] = ½(x − l' + s[dow]); the
    * 7-slot season vector starts at zeros and converges within two
    * weeks. One-step-ahead fc = l + t + s[dow] BEFORE the update —
    * the honest forecast, never peeking at x. The whole series folds
    * in ONE `aggregate` HOF over the sorted gap-filled calendar grid
    * (state bounded by days, never rows — the [[holtForecast]]
    * doctrine); the oracle replays it as a recursive CTE carrying the
    * season LIST. Day-of-week is computed as Spark `dayofweek` (1 =
    * Sunday); the oracle adds 1 to DuckDB's 0 = Sunday.
    *
    * Output: (day, rev_cents, forecast_cents, err_cents), ordered. */
  def holtWintersForecast(orders: DataFrame): DataFrame = {
    val series = dailyRevenueSeries(orders)
      .withColumn("dw", dayofweek(col("day")).cast("int"))
    val sd = "element_at(acc.s, e.dw)"
    val lNew = halveSql(s"e.x - $sd + acc.l + acc.t")
    val sNew = halveSql(s"e.x - ($lNew) + $sd")
    val fold =
      "aggregate(" +
        "sort_array(collect_list(struct(day, x, dw))), " +
        "named_struct('l', 0L, 't', 0L, " +
        "'s', array_repeat(0L, 7), 'first', true, " +
        "'out', CAST(array() AS " +
        "ARRAY<STRUCT<day: TIMESTAMP, x: BIGINT, fc: BIGINT>>)), " +
        "(acc, e) -> CASE WHEN acc.first THEN named_struct(" +
        "'l', e.x, 't', 0L, 's', acc.s, 'first', false, " +
        "'out', array(named_struct('day', e.day, 'x', e.x, " +
        "'fc', CAST(NULL AS BIGINT)))) " +
        s"ELSE named_struct('l', $lNew, " +
        s"'t', ${halveSql(s"($lNew) - acc.l + acc.t")}, " +
        s"'s', transform(acc.s, (v, i) -> " +
        s"IF(i = e.dw - 1, $sNew, v)), 'first', false, " +
        s"'out', concat(acc.out, array(named_struct('day', e.day, " +
        s"'x', e.x, 'fc', acc.l + acc.t + $sd)))) END)"
    series
      .agg(expr(fold).as("st"))
      .select(explode(col("st.out")).as("r"))
      .select(col("r.day").as("day"), col("r.x").as("rev_cents"),
        col("r.fc").as("forecast_cents"),
        (col("r.x") - col("r.fc")).as("err_cents"))
      .orderBy(col("day"))
  }

  /** WEEKLY OHLC RESAMPLE (round 15) — the open/high/low/close
    * downsample every time-series store offers, over the shared
    * gap-filled DAILY revenue grid (a skipped day is a 0-revenue day,
    * not a missing sample — so a week's low reads 0 when trade
    * stopped, exactly what the chart should show). Weeks are
    * `date_trunc('week')` (Monday-start on both engines); open/close
    * are the first/last day's value BY CALENDAR ORDER via a single
    * min/max-of-struct pair — no window, no second shuffle: one
    * aggregation over the calendar-bounded grid.
    *
    * Output: (week, n_days, open_cents, high_cents, low_cents,
    * close_cents), ordered. */
  def weeklyOhlc(orders: DataFrame): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val daily = orders
      .select(date_trunc("day", col("o_orderdate")).as("day"),
        cents.as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    weeklyOhlcFromDaily(daily)
  }

  /** The gap-fill + resample tail of [[weeklyOhlc]] over an
    * already-aggregated (day, rev) daily relation — shared with the
    * streaming parity replay, whose cross-batch daily aggregation IS
    * the part under test (one code path, two ingestion modes, the
    * [[rollingWauFromPairs]] pattern). */
  private[graft] def weeklyOhlcFromDaily(daily: DataFrame): DataFrame = {
    val grid = daily
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    grid.join(broadcast(daily), Seq("day"), "left")
      .select(date_trunc("week", col("day")).as("week"), col("day"),
        coalesce(col("rev"), lit(0L)).as("x"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"),
        min(struct(col("day"), col("x"))).as("o"),
        max(col("x")).as("high_cents"),
        min(col("x")).as("low_cents"),
        max(struct(col("day"), col("x"))).as("c"))
      .select(col("week"), col("n_days"), col("o.x").as("open_cents"),
        col("high_cents"), col("low_cents"), col("c.x").as("close_cents"))
      .orderBy(col("week"))
  }

  /** QQ DECILE TABLE between two arms (round 15) — the
    * distribution-vs-distribution read the scalar tests compress away
    * ([[welchT2]] compares means, [[ksStatistic]] reports one
    * supremum; the QQ table shows WHERE the distributions diverge):
    * for deciles 1..9, each arm's exact nearest-rank-low order
    * statistic (rank ((n−1)·i) div 10 + 1 — the engine-portable
    * integer convention, no interpolation) over the value-grouped
    * cent grid, selected per arm by [[RankGrid.orderStats]] — never a
    * row-level sort. The paired
    * columns and their gap land in one 9-row relation.
    *
    * Output: (decile, n_a, n_b, qa_cents, qb_cents, diff_cents),
    * ordered. */
  def qqDeciles(events: DataFrame, typeA: String = "click",
                typeB: String = "purchase"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val c = (dec2(col("value")) * 100).cast("long")
    val base = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(when(col("event_type") === typeA, "a").otherwise("b")
        .as("arm"), c.as("v"))
    val counts = base.groupBy(col("arm"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val deciles = (1 to 9).toDF("decile")
    val ranks = base.groupBy(col("arm")).agg(count(lit(1)).as("n"))
      .crossJoin(deciles)
      .select(col("arm"), col("decile"), col("n"),
        (expr("((n - 1) * decile) div 10") + 1L).as("k"))
    val qs = RankGrid.orderStats(counts, Seq("arm"), "v", "cnt", ranks)
      .groupBy(col("decile"))
      .agg(max(when(col("arm") === "a", col("n"))).as("n_a"),
        max(when(col("arm") === "b", col("n"))).as("n_b"),
        max(when(col("arm") === "a", col("v"))).as("qa_cents"),
        max(when(col("arm") === "b", col("v"))).as("qb_cents"))
    qs.select(col("decile"), col("n_a"), col("n_b"),
        col("qa_cents"), col("qb_cents"),
        (col("qa_cents") - col("qb_cents")).as("diff_cents"))
      .orderBy(col("decile"))
  }

  /** 7-DAY ROLLING MEDIAN (round 13) — the robust smoother over the
    * daily revenue series: where [[dailyEwma]]'s mean-based smoothing
    * follows a one-day spike, the rolling median IGNORES it until it
    * persists 4 of 7 days — the monitoring baseline that doesn't
    * chase its own anomalies. Runs over the SHARED
    * [[dailyRevenueSeries]] (gap-filled calendar grid — a skipped day
    * would silently shrink the window); the median is the exact
    * nearest-rank-low element of the sorted ≤7-element trailing frame
    * (all BIGINT cents, no interpolation — the engine-portable order
    * statistic). One bounded window pass; the frame is 7 rows by
    * construction, never data-sized.
    *
    * Output: (day, rev_cents, n_window, median7), ordered. */
  def rollingMedian(orders: DataFrame, span: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(span >= 1, s"bad span $span")
    val w = Window.orderBy(col("day")).rowsBetween(-(span - 1), 0)
    dailyRevenueSeries(orders)
      .withColumn("arr", sort_array(collect_list(col("x")).over(w)))
      .select(col("day"), col("x").as("rev_cents"),
        size(col("arr")).cast("long").as("n_window"),
        expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))")
          .as("median7"))
      .orderBy(col("day"))
  }

  /** RUNNING-PEAK DRAWDOWN (round 16) — the max-drawdown curve every
    * time-series monitor draws beside [[rollingMedian]]'s smoother and
    * [[weeklyOhlc]]'s resample: per calendar day, the running peak of
    * daily revenue so far and the drawdown (peak − today) — the
    * worst-regression-from-best readout whose maximum IS the classic
    * max drawdown. Over the shared gap-filled daily grid (a dead day
    * is a REAL full-depth drawdown day, not a missing sample); all
    * exact BIGINT cents; one calendar-bounded cumulative-max window —
    * never data-sized.
    *
    * Output: (day, rev_cents, peak_cents, drawdown_cents), ordered. */
  def drawdownSeries(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dailyRevenueSeries(orders)
      .withColumn("peak_cents", max(col("x")).over(w))
      .select(col("day"), col("x").as("rev_cents"), col("peak_cents"),
        (col("peak_cents") - col("x")).as("drawdown_cents"))
      .orderBy(col("day"))
  }

  /** MANN–KENDALL TREND TEST (round 16) — the nonparametric monotone-
    * trend detector completing the trend family ([[theilSen]] gives
    * the slope, MK gives the significance): S = Σ_{i<j} sign(x_j −
    * x_i) over the gap-filled daily revenue series, with the
    * tie-corrected variance 18·Var(S) = n(n−1)(2n+5) − Σ_t m(m−1)
    * (2m+5). ENGINE-EXACT end to end: the pair space is CALENDAR-
    * bounded (grid² over the day span — never row-scale; the daily
    * aggregation happens BEFORE the quadratic step, so 100 TB of
    * orders still reduces to ≤ ~2.6k grid rows), the self-join
    * broadcasts, and every statistic is BIGINT. z² uses the standard
    * continuity correction (|S|−1)² and lands as one deterministic
    * integer division: z2_milli = 18000·(|S|−1)² div var18 (0 when
    * S = 0 — the convention the scaladoc documents, matching the
    * correction's removal of the half-step at the origin).
    *
    * Output: one row (n_days, n_pairs, s_stat, var18, z2_milli). */
  def mannKendall(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    val s = dailyRevenueSeries(orders)
      .select(row_number().over(w).cast("long").as("i"), col("x"))
    val a = s.select(col("i").as("ia"), col("x").as("xa"))
    val b = s.select(col("i").as("ib"), col("x").as("xb"))
    val st = a.join(broadcast(b), col("ia") < col("ib"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("xb") > col("xa"), 1L)
          .when(col("xb") < col("xa"), -1L).otherwise(0L)), lit(0L))
          .as("s_stat"))
    val ties = s.groupBy(col("x")).agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(expr("m * (m - 1L) * (m * 2L + 5L)")), lit(0L))
        .as("tie_term"),
        coalesce(sum(col("m")), lit(0L)).as("n_days"))
    ties.crossJoin(broadcast(st))
      .select(col("n_days"), col("n_pairs"), col("s_stat"),
        (col("n_days") * (col("n_days") - 1L) * (col("n_days") * 2L + 5L)
          - col("tie_term")).as("var18"))
      .select(col("n_days"), col("n_pairs"), col("s_stat"), col("var18"),
        expr("CAST(CASE WHEN s_stat = 0 THEN 0 ELSE " +
          "((abs(s_stat) - 1) * (abs(s_stat) - 1) * 18000) div " +
          "nullif(var18, 0L) END AS BIGINT)").as("z2_milli"))
  }

  /** CALENDAR GAP CENSUS (round 16) — the gaps-and-islands face of
    * the gap-fill doctrine: every maximal run of DEAD calendar days
    * (zero daily revenue) as its own row. The other daily operators
    * fill gaps with zeros and move on; this one REPORTS them — the
    * "did the feed stop?" audit where a 1-day gap is a quiet day but
    * a 5-day gap is an outage. Islands group by the classic
    * epoch-day − row_number key (consecutive dead days share it);
    * everything after the daily aggregation is calendar-bounded.
    *
    * Output: (gap_start, gap_days), one row per gap, ordered. */
  def gapCensus(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    dailyRevenueSeries(orders).filter(col("x") === 0L)
      .select(col("day"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("grp",
        datediff(col("day"), to_date(lit("1970-01-01"))).cast("long") -
          col("rn"))
      .groupBy(col("grp"))
      .agg(min(col("day")).as("gap_start"), count(lit(1)).as("gap_days"))
      .select(col("gap_start"), col("gap_days"))
      .orderBy(col("gap_start"))
  }

  /** ONE-SAMPLE KS AGAINST UNIFORM (round 16) — the goodness-of-fit
    * twin of the two-sample [[ksTest]]: is order volume uniform
    * across the 7 weekdays? The ECDF supremum runs entirely in the
    * integer domain over the DENSE 1..7 grid (a dow with zero orders
    * still advances the null CDF): D·7n = max |7·cum(d) − n·d|, with
    * cum from [[RankGrid.below]], one division into the double D at the
    * end. The weekday grid is the
    * natural uniformity null for operational load (staffing, batch
    * windows); month-length artifacts make day-of-month a dishonest
    * null.
    *
    * Output: one row (n_orders, d_scaled, d). */
  def ksUniformDow(orders: DataFrame): DataFrame = {
    val cnt = orders
      .select(dayofweek(col("o_orderdate")).cast("long").as("dw"))
      .groupBy(col("dw")).agg(count(lit(1)).as("c"))
    val dense = orders.sparkSession.range(1, 8)
      .select(col("id").as("dw"))
      .join(broadcast(cnt), Seq("dw"), "left")
      .select(col("dw"), coalesce(col("c"), lit(0L)).as("c"))
    val n = dense.agg(coalesce(sum(col("c")), lit(0L)).as("n_orders"))
    RankGrid.below(dense, Nil, "dw", Seq("c"))
      .withColumn("cum", col("c_lt") + col("c"))
      .crossJoin(broadcast(n))
      .agg(min(col("n_orders")).as("n_orders"),
        coalesce(max(abs(col("cum") * 7L - col("n_orders") * col("dw"))),
          lit(0L)).as("d_scaled"))
      .select(col("n_orders"), col("d_scaled"),
        (col("d_scaled").cast("double") /
          expr("nullif(n_orders * 7, 0)")).as("d"))
  }

  /** JONCKHEERE–TERPSTRA TEST (round 16) — the ORDERED-alternative
    * k-group test [[kruskalWallis]] cannot run: KW asks "any group
    * different?", J–T asks "does quantity RISE with order priority?"
    * (groups carry a natural order — the lexical priority rank). J is
    * the sum of pairwise Mann–Whitney counts over ordered group pairs
    * (i < j), doubled so ties stay BIGINT: J·2 = Σ_{i<j} Σ_v
    * c_j(v)·(2·c_i(<v) + c_i(v)), with c_i(<v) from [[RankGrid.below]]
    * keyed by group. Everything runs on the DENSE
    * (group × value) grid (k·|grid| rows — priorities × the ≤ 50
    * quantity grid, never row-scale); the Hollander–Wolfe
    * tie-corrected variance's three components are exact
    * DECIMAL(38,0) sums (cubic-in-N terms overflow int64 at sf ≥ 1)
    * folded into ONE fixed IEEE tree with the via-string bridge —
    * sqrt is correctly rounded, so z replays bit-for-bit.
    *
    * Output: one row (n_rows, k_groups, j_x2, e_x4, z) where e_x4 =
    * 4·E[J] = N² − Σn_g². */
  def jonckheereTerpstra(orders: DataFrame,
                         lineitem: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val xs = lineitem
      .select(col("l_orderkey").as("ok"),
        col("l_quantity").cast("long").as("v"))
      .join(orders.select(col("o_orderkey").as("ok"),
        col("o_orderpriority").as("g")), Seq("ok"))
      .select(col("g"), col("v"))
    val cnt = xs.groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val mat = cnt.select(col("g")).distinct()
      .crossJoin(cnt.select(col("v")).distinct())
      .join(cnt, Seq("g", "v"), "left")
      .select(col("g"), col("v"), coalesce(col("cnt"), lit(0L)).as("c"))
    val m = RankGrid.below(mat, Seq("g"), "v", Seq("c"))
      .withColumnRenamed("c_lt", "clt").localCheckpoint()
    // the dense grid is k·|values| rows (≤ a few hundred) — broadcast
    // one side so the pair census never sort-merges
    val j2 = m.as("mi").join(broadcast(m.as("mj")),
        col("mi.v") === col("mj.v") && col("mi.g") < col("mj.g"))
      .agg(coalesce(sum(col("mj.c") *
        (col("mi.clt") * 2 + col("mi.c"))), lit(0L)).as("j_x2"))
    val gs = cnt.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .agg(count(lit(1)).as("k_groups"),
        coalesce(sum(col("n")), lit(0L)).as("nn"),
        coalesce(sum(col("n") * col("n")), lit(0L)).as("sum_n2"),
        coalesce(sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1) * (n * 2 + 5)")),
          lit(0).cast(dec)).as("g_a"),
        coalesce(sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1) * (n - 2)")),
          lit(0).cast(dec)).as("g_b"),
        coalesce(sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")),
          lit(0).cast(dec)).as("g_d"))
    val ts = cnt.groupBy(col("v")).agg(sum(col("cnt")).as("t"))
      .agg(coalesce(sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (t * 2 + 5)")),
          lit(0).cast(dec)).as("t_a"),
        coalesce(sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2)")),
          lit(0).cast(dec)).as("t_c"),
        coalesce(sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1)")),
          lit(0).cast(dec)).as("t_e"))
    gs.crossJoin(broadcast(ts)).crossJoin(broadcast(j2))
      .withColumn("var_a", expr(
        "CAST(CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (nn * 2 + 5) " +
          "- g_a - t_a AS STRING)").cast("double"))
      .withColumn("var_bc", expr("CAST(g_b AS STRING)").cast("double") *
        expr("CAST(t_c AS STRING)").cast("double"))
      .withColumn("var_de", expr("CAST(g_d AS STRING)").cast("double") *
        expr("CAST(t_e AS STRING)").cast("double"))
      .select(col("nn").as("n_rows"), col("k_groups"), col("j_x2"),
        (col("nn") * col("nn") - col("sum_n2")).as("e_x4"),
        expr("(CAST(j_x2 AS DOUBLE) / 2.0 - " +
          "CAST(nn * nn - sum_n2 AS DOUBLE) / 4.0) / " +
          "sqrt(var_a / 72.0 + var_bc / (36.0 * CAST(nn AS DOUBLE) * " +
          "(CAST(nn AS DOUBLE) - 1.0) * (CAST(nn AS DOUBLE) - 2.0)) + " +
          "var_de / (8.0 * CAST(nn AS DOUBLE) * " +
          "(CAST(nn AS DOUBLE) - 1.0)))").as("z"))
  }

  /** MOOD'S MEDIAN TEST (round 16) — the k-group location test that
    * survives what breaks [[kruskalWallis]]: gross outliers and wildly
    * unequal variances (only the side of the GRAND median counts, so
    * one corrupted shard cannot drag the statistic). Grand median via
    * k-th order-statistic selection on the value-grouped grid
    * ([[RankGrid.orderStats]] — no row-level sort); the k×2
    * above/≤ table then replays [[chiSquare]]'s doctrine verbatim:
    * structural cells, integer cross-multiplied residuals, per-cell
    * IEEE terms summed by the SORTED bounded-list fold.
    *
    * Output: (l_returnflag, side, o, expected, term, chi2), 2k rows,
    * ordered; median ties go to '2_le' (v > median is 'above' — the
    * standard convention). */
  def moodMedian(lineitem: DataFrame): DataFrame = {
    val g = lineitem
      .select(col("l_returnflag").as("grp"),
        col("l_quantity").cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
    val m = g.groupBy(col("v")).agg(sum(col("cnt")).as("m"))
    val tot = g.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
    val med = RankGrid.orderStats(m, Nil, "v", "m",
        tot.select(expr("(n + 1) div 2").as("k")))
      .agg(min(col("v")).as("med"))
    val cells = g.crossJoin(broadcast(med))
      .groupBy(col("grp"))
      .agg(coalesce(sum(when(col("v") > col("med"), col("cnt"))
          .otherwise(0L)), lit(0L)).as("oAbove"),
        coalesce(sum(when(col("v") <= col("med"), col("cnt"))
          .otherwise(0L)), lit(0L)).as("oLe"))
      .select(col("grp"), expr(
        "stack(2, '1_above', oAbove, '2_le', oLe) AS (side, o)"))
    val rows = cells.groupBy(col("grp")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("side")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    val terms = cells
      .join(broadcast(rows), Seq("grp"))
      .join(broadcast(cols), Seq("side"))
      .crossJoin(broadcast(n))
      .withColumn("expected",
        (col("r") * col("c")).cast("double") / col("n"))
      // residual and denominator in DECIMAL(38,0) via the string
      // bridge — o·n and r·c·n overflow int64 at sf ≥ 1 line counts
      .withColumn("res",
        expr("CAST(CAST(o AS DECIMAL(38,0)) * n - " +
          "CAST(r AS DECIMAL(38,0)) * c AS STRING)").cast("double"))
      .withColumn("term", (col("res") * col("res")) /
        expr("CAST(CAST(r AS DECIMAL(38,0)) * c * n AS STRING)")
          .cast("double"))
    val stat = terms
      .agg(aggregate(
        array_sort(collect_list(struct(col("grp"), col("side"),
          col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"))
    terms.select(col("grp").as("l_returnflag"), col("side"), col("o"),
        col("expected"), col("term"))
      .crossJoin(broadcast(stat))
      .orderBy(col("l_returnflag"), col("side"))
  }

  /** 2-D SKYLINE (round 16) — the Pareto-frontier operator (Börzsönyi
    * et al.'s SKYLINE OF): parts maximal under the (size ≥, price ≥,
    * one strict) dominance order — "largest size at the best price"
    * with no point beaten on both axes. For TWO dimensions the
    * quadratic dominance anti-join collapses to a GRID-BOUNDED
    * running max: reduce to per-size best price (the only skyline
    * candidates), then a point survives iff its price strictly
    * exceeds the running max over all LARGER sizes — one window over
    * ≤ |size grid| rows, O(n) scan + O(grid) window at any scale
    * (the n² anti-join a naive skyline would shuffle is exactly what
    * this shape avoids). Equal (size, price) ties collapse into one
    * skyline point with its multiplicity.
    *
    * Output: (size, best_price_cents, n_at_point), ordered size DESC
    * (the frontier read left-to-right). */
  def skyline2d(part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (col("p_retailprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val g = part.select(col("p_size").cast("long").as("size"),
      cents.as("price"))
    val bySize = g.groupBy(col("size"))
      .agg(max(col("price")).as("best_price_cents"))
    val w = Window.orderBy(col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = bySize
      .withColumn("rmax", max(col("best_price_cents")).over(w))
      .filter(col("rmax").isNull ||
        col("best_price_cents") > col("rmax"))
    val at = g.groupBy(col("size"), col("price"))
      .agg(count(lit(1)).as("n_at_point"))
      .withColumnRenamed("price", "best_price_cents")
    sky.join(at, Seq("size", "best_price_cents"))
      .select(col("size"), col("best_price_cents"), col("n_at_point"))
      .orderBy(col("size").desc)
  }

  /** HODGES–LEHMANN ESTIMATOR (round 16) — the robust LOCATION
    * companion of [[wilcoxonSignedRank]]'s significance: the median
    * of all Walsh sums (d_i + d_j, i ≤ j) over the same lag-7 daily
    * revenue differences. Where the sign/Wilcoxon tests say "shifted",
    * HL says BY HOW MUCH with a 29% breakdown point. Zeros stay (HL
    * is an estimator, not a test — dropping them would bias the
    * location). ENGINE-EXACT: the Walsh space is calendar-bounded
    * (grid²/2 — the [[mannKendall]] bound), the median comes from
    * k-th-order-statistic selection on the value-grouped Walsh grid
    * ([[RankGrid.orderStatsBucketed]]: the Walsh grid grows as the
    * calendar's square and spans many buckets), and the even/odd split
    * stays integer via the ×4 convention: each Walsh sum is already
    * 2·(Walsh average), and hl_x4 = w_(⌈W/2⌉) + w_(⌊W/2⌋+1) doubles
    * again so the even-count midpoint needs no halving.
    *
    * Output: one row (n_diffs, n_walsh, hl_x4). */
  def hodgesLehmann(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 19: the lag-7 diff series is CALENDAR-BOUNDED (one row per
    // grid day) and referenced four times below (both Walsh legs, the
    // n_walsh count, the n_diffs count); materialize it once — the old
    // plan re-ran the orders scan + daily rollup + two windows per
    // reference (2 scans / 10 Window nodes / 5 BNLJ at sf0.01, see
    // plans/r19/stats_hodges_lehmann_before.txt). Values unchanged.
    val diffs = weekOverWeek(dailyRevenueSeries(orders))
      .select(row_number().over(Window.orderBy(col("day"))).cast("long")
        .as("i"), col("d"))
      .localCheckpoint()
    val a = diffs.select(col("i").as("ia"), col("d").as("da"))
    val b = diffs.select(col("i").as("ib"), col("d").as("db"))
    val walsh = a.join(broadcast(b), col("ia") <= col("ib"))
      .select((col("da") + col("db")).as("w"))
    val grouped = walsh.groupBy(col("w")).agg(count(lit(1)).as("m"))
    // n_walsh from the value groups (ReuseExchange shares the grouped
    // aggregate with the rank kernel — the pair enumeration runs once)
    val tot = grouped.agg(coalesce(sum(col("m")), lit(0L)).as("n_walsh"))
    val ks = tot.select(expr(
      "stack(2, 'w1', (n_walsh + 1) div 2, 'w2', n_walsh div 2 + 1) " +
        "AS (which, k)"))
    val sel = RankGrid.orderStatsBucketed(grouped, Nil, "w", "m", ks)
      .agg(min(when(col("which") === "w1", col("w"))).as("w1"),
        min(when(col("which") === "w2", col("w"))).as("w2"))
    diffs.agg(count(lit(1)).as("n_diffs"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(sel))
      .select(col("n_diffs"), col("n_walsh"),
        (col("w1") + col("w2")).as("hl_x4"))
  }

  /** KRUSKAL–WALLIS H (round 16) — the k-group one-way rank ANOVA
    * completing [[mannWhitneyU]]'s family upward (MW is its k = 2
    * case): do the return-flag populations carry systematically
    * different quantities? Ranks come from the VALUE-GROUPED quantity
    * grid through [[RankGrid.below]] (never a row-level sort) with
    * ties at their average rank via the doubled-rank trick (2·c_lt + m + 1, BIGINT
    * end to end). The H statistic needs Σ R²_g/n_g — a sum of
    * divisions, so the exact-integer road ends and the [[chiSquare]]
    * doctrine takes over: per-group terms are single IEEE divisions
    * of exact BIGINTs, summed by a SORTED bounded-list fold (double
    * addition is not associative; the fold order is pinned by group
    * key), and the closing H tree is a fixed scalar expression both
    * engines evaluate identically. The tie-correction census
    * Σ(m³ − m) rides along exact.
    *
    * Output: (l_returnflag, n, r_sum_doubled, tie_cubes, h), one row
    * per group, ordered; h and tie_cubes repeat per row (the
    * [[friedmanTest]] shape). */
  def kruskalWallis(lineitem: DataFrame): DataFrame = {
    val g = lineitem
      .select(col("l_returnflag").as("grp"),
        col("l_quantity").cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
    val m = g.groupBy(col("v")).agg(sum(col("cnt")).as("m"))
    val dr = RankGrid.below(m, Nil, "v", Seq("m"))
      .select(col("v"), (col("m_lt") * 2 + col("m") + 1L).as("dr"))
    val sums = g.join(broadcast(dr), Seq("v"))
      .groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt") * col("dr")).as("r_sum_doubled"))
      // R_g = r_sum_doubled/2 → R²_g/n_g = r²/(4n): one IEEE division
      // of exact longs per group (r² via double·double — an int64
      // square would overflow at warehouse scale)
      .withColumn("term",
        (col("r_sum_doubled").cast("double") *
          col("r_sum_doubled").cast("double")) /
          (col("n") * 4L).cast("double"))
    val ties = m.agg(coalesce(sum(expr("m * m * m - m")), lit(0L))
      .as("tie_cubes"))
    val h = sums.agg(
        coalesce(sum(col("n")), lit(0L)).as("nn"),
        aggregate(
          array_sort(collect_list(struct(col("grp"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("sumterm"))
      .select(col("nn"),
        (lit(12.0) / (col("nn").cast("double") *
          (col("nn").cast("double") + 1.0)) * col("sumterm") -
          (col("nn").cast("double") + 1.0) * 3.0).as("h"))
    sums.select(col("grp").as("l_returnflag"), col("n"),
        col("r_sum_doubled"))
      .crossJoin(broadcast(ties))
      .crossJoin(broadcast(h.select(col("h"))))
      .orderBy(col("l_returnflag"))
  }

  /** CLIFF'S DELTA (round 16) — the ordinal effect size beside
    * [[mannWhitneyU]]'s significance (a p-value says "different", δ
    * says "by how much, distribution-free"): δ = (#(a > b) −
    * #(a < b)) / (n_a·n_b) over all cross pairs of the click and
    * purchase value distributions. ENGINE-EXACT: the pair census
    * comes from the value-grouped cents grid via the cumulative
    * counts of [[RankGrid.below]] (rows at value v beat cb_lt(v) b-rows
    * and lose to n_b − cb_le(v)) — never a materialized cross join; the
    * ppm readout is
    * one truncating division with DECIMAL(38,0) headroom (n_gt·10⁶
    * overflows int64 exactly at warehouse pair counts).
    *
    * Output: one row (n_a, n_b, n_gt, n_lt, n_tie, delta_ppm). */
  def cliffsDelta(events: DataFrame, typeA: String = "click",
                  typeB: String = "purchase"): DataFrame =
    RankGrid.below(RankGrid.twoArmCents(events, typeA, typeB), Nil, "c",
        Seq("na", "nb"))
      .agg(coalesce(sum(col("na")), lit(0L)).as("n_a"),
        coalesce(sum(col("nb")), lit(0L)).as("n_b"),
        coalesce(sum(col("na") * col("nb_lt")), lit(0L)).as("n_gt"),
        coalesce(sum(col("na") * (col("nb_lt") + col("nb"))), lit(0L))
          .as("n_le"))
      .withColumn("n_lt", col("n_a") * col("n_b") - col("n_le"))
      .select(col("n_a"), col("n_b"), col("n_gt"), col("n_lt"),
        (col("n_a") * col("n_b") - col("n_gt") - col("n_lt")).as("n_tie"),
        expr("CAST(CASE WHEN n_gt >= n_lt THEN " +
          "(CAST(n_gt - n_lt AS DECIMAL(38,0)) * 1000000) div " +
          "nullif(CAST(n_a AS DECIMAL(38,0)) * n_b, 0) " +
          "ELSE -((CAST(n_lt - n_gt AS DECIMAL(38,0)) * 1000000) div " +
          "nullif(CAST(n_a AS DECIMAL(38,0)) * n_b, 0)) END AS BIGINT)")
          .as("delta_ppm"))

  /** DAY-OVER-DAY CHANGE in basis points (round 16) — the growth-rate
    * face of the daily revenue series beside [[drawdownSeries]]'
    * regression-from-peak: per calendar day, yesterday's exact cents
    * and the change in bps via the SIGN-SPLIT integer division
    * doctrine (Spark `div` truncates toward zero while DuckDB `//`
    * floors — they agree only on non-negative operands, so the
    * negative branch divides the POSITIVE gap and negates). A dead
    * yesterday (zero revenue) reads NULL bps — an infinite growth
    * rate is not a number, and nullif keeps ANSI mode from throwing.
    * One calendar-bounded lag after the daily aggregation.
    *
    * Output: (day, rev_cents, prev_cents, chg_bps), ordered. */
  def dodChangeBps(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    dailyRevenueSeries(orders)
      .withColumn("prev_cents", lag(col("x"), 1).over(w))
      .filter(col("prev_cents").isNotNull)
      .select(col("day"), col("x").as("rev_cents"), col("prev_cents"),
        expr("CASE WHEN x >= prev_cents THEN " +
          "((x - prev_cents) * 10000) div nullif(prev_cents, 0L) " +
          "ELSE -(((prev_cents - x) * 10000) div nullif(prev_cents, 0L)) " +
          "END").as("chg_bps"))
      .orderBy(col("day"))
  }

  /** LOCAL-MAXIMUM DAYS (round 16) — strict single-day peaks in the
    * gap-filled daily event-count series: a day whose count exceeds
    * BOTH calendar neighbors (the change-point shortlist an alerting
    * pipeline feeds to [[eventAnomaly]]'s z-scores — a peak day is
    * where "what happened on X?" questions start). Strictness on both
    * sides makes the readout deterministic under ties (a plateau has
    * no peak), and the gap-filled grid means a burst day flanked by
    * dead days still reads as a peak. Endpoints are excluded (no
    * neighbor, no claim). Everything after the daily count is
    * calendar-bounded.
    *
    * Output: (day, n_events, prev_cnt, next_cnt) for peaks, ordered. */
  def peakDays(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(date_trunc("day", col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"))
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .filter(col("lo").isNotNull)
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val series = grid.join(broadcast(daily), Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("n_events"))
    val w = Window.orderBy(col("day"))
    series
      .withColumn("prev_cnt", lag(col("n_events"), 1).over(w))
      .withColumn("next_cnt", lead(col("n_events"), 1).over(w))
      .filter(col("prev_cnt").isNotNull && col("next_cnt").isNotNull &&
        col("n_events") > col("prev_cnt") &&
        col("n_events") > col("next_cnt"))
      .select(col("day"), col("n_events"), col("prev_cnt"), col("next_cnt"))
      .orderBy(col("day"))
  }

  /** GINI COEFFICIENT of revenue concentration (round 13) — the
    * single-number inequality metric beside [[paretoConcentration]]'s
    * top-share curve: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the
    * ascending-sorted order totals. ENGINE-EXACT: totals move to exact
    * cents and the rank-weighted sum folds over the VALUE-GROUPED
    * table (one row per distinct cent total, which grows with the
    * orders — hence [[RankGrid.belowBucketed]]) in [[RankGrid.gini]]:
    * rows of value v occupy ranks [c_lt+1, c_lt+cnt], so their Σ i·xᵢ
    * contribution is v·(cnt·c_lt + cnt·(cnt+1)/2) — all BIGINT; the
    * final G is ONE IEEE division of two exact integers.
    *
    * Output (one row): n_orders, sum_cents, gini_num (= 2Σi·x −
    * (n+1)·Σx, exact), gini. */
  def orderGini(orders: DataFrame): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    RankGrid.gini(RankGrid.belowBucketed(orders.select(cents.as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt")), Nil, "v", Seq("cnt")),
      "n_orders", "sum_cents")
  }

  /** USER-PARTICIPATION GINI (round 16) — inequality of the per-user
    * event-count distribution: the 90-9-1 readout that decides whether
    * "active users" is a community or three bots ([[orderGini]]'s
    * machinery pointed at engagement instead of spend, and the events
    * twin of `graph_degree_gini`). Per-user counts first (map-side
    * combinable), then the [[RankGrid.gini]] fold over the BOUNDED
    * count grid — one row per distinct activity level, so the rank
    * kernel never sees user-scale data — and ONE IEEE division at the
    * end.
    *
    * Output (one row): n_users, n_events, gini_num, gini. */
  def userActivityGini(events: DataFrame): DataFrame =
    RankGrid.gini(RankGrid.below(events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("v")).groupBy(col("v")).agg(count(lit(1)).as("cnt")),
      Nil, "v", Seq("cnt")), "n_users", "n_events")

  /** MANN-WHITNEY U (round 13) — the RANK-based two-sample test next
    * to [[welchT2]]'s parametric one: robust to the heavy-tailed value
    * distributions real event streams have, where a mean-based t² is
    * driven by outliers. ENGINE-EXACT BY CONSTRUCTION: values move to
    * exact cents, ranking happens on the VALUE-GROUPED table (one row
    * per distinct cent value — bounded by the price grid, not the row
    * count — through [[RankGrid.below]]), and tied ranks use
    * the DOUBLED average rank 2·c_lt + t + 1 so every accumulation is
    * a BIGINT — no half-rank floats anywhere. The AUC statistic
    * (P(A > B) + ½P(A = B), the common-language effect size) is ONE
    * IEEE division of two exact integers at the end.
    *
    * Output (one row): n_a, n_b, r2x_a (doubled rank sum of sample A),
    * u2x_a (doubled U_A), auc_a. */
  def mannWhitneyU(events: DataFrame, typeA: String = "click",
                   typeB: String = "purchase"): DataFrame =
    RankGrid.below(RankGrid.twoArmCents(events, typeA, typeB), Nil, "c",
        Seq("na", "nb"))
      .agg(coalesce(sum(col("na")), lit(0L)).as("n_a"),
        coalesce(sum(col("nb")), lit(0L)).as("n_b"),
        coalesce(sum(col("na") * ((col("na_lt") + col("nb_lt")) * 2L +
          col("na") + col("nb") + 1L)), lit(0L)).as("r2x_a"))
      .select(col("n_a"), col("n_b"), col("r2x_a"),
        (col("r2x_a") - col("n_a") * (col("n_a") + 1L)).as("u2x_a"),
        ((col("r2x_a") - col("n_a") * (col("n_a") + 1L)).cast("double") /
          expr("nullif(n_a * n_b * 2, 0)")).as("auc_a"))

  /** KOLMOGOROV–SMIRNOV two-sample D (round 13) — the DISTRIBUTION-
    * shape companion of [[mannWhitneyU]]'s location test: the largest
    * ECDF gap catches variance/shape drift a rank sum misses (the
    * data-drift monitor every feature pipeline runs between training
    * and serving windows). Same exact-cents value-grouped front; the
    * supremum is computed in the INTEGER domain — D·n_a·n_b =
    * max |c1·n_b − c2·n_a| over the value grid (cumulative counts
    * from [[RankGrid.below]]) — and divides once into the
    * double D at the end.
    *
    * Output (one row): n_a, n_b, d_scaled (= D·n_a·n_b, exact), d. */
  def ksTest(events: DataFrame, typeA: String = "click",
             typeB: String = "purchase"): DataFrame = {
    val g = RankGrid.twoArmCents(events, typeA, typeB)
    val tot = g.agg(coalesce(sum(col("na")), lit(0L)).as("n_a"),
      coalesce(sum(col("nb")), lit(0L)).as("n_b"))
    val sup = RankGrid.below(g, Nil, "c", Seq("na", "nb"))
      .crossJoin(broadcast(tot))
      .agg(coalesce(max(abs((col("na_lt") + col("na")) * col("n_b") -
        (col("nb_lt") + col("nb")) * col("n_a"))), lit(0L)).as("d_scaled"))
    sup.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"), col("d_scaled"),
        (col("d_scaled").cast("double") /
          expr("nullif(n_a * n_b, 0)")).as("d"))
  }

  /** PER-SOURCE LENGTH-DRIFT MONITOR (round 13) — [[ksTest]] composed
    * over every corpus shard at once: each source's document-length
    * distribution vs the REST of the corpus, the per-shard KS-D that
    * catches a re-chunked feed / truncating scraper / template flood
    * the moment one shard's shape moves (the training-vs-serving drift
    * monitor, run per ingest source). Same integer-domain ECDF
    * doctrine: the supremum is max |ca·n_b − cb·n_a| over the VALUE
    * grid, where the grid is the BIT-LENGTH of n_chars (round 15: the
    * Kendall doctrine — a length is an int64, so the grid is ≤ 64
    * rows UNCONDITIONALLY; the raw distinct-length grid was
    * data-shaped on a corpus with pathological length diversity, and
    * |S| × distinct-lengths densification is exactly the cross
    * product the grid bound exists to cap). Log-scale buckets are the
    * honest monitor granularity for lengths anyway — a re-chunked
    * feed or truncating scraper moves mass across octaves. The grid ×
    * source matrix is dense by construction (a source missing a
    * bucket still carries its cumulative there), built from two
    * bounded relations, cumulated by [[RankGrid.below]] per source and
    * once grid-wide; ONE IEEE division per source at the end.
    *
    * Output: (source, n_docs, n_rest, d_scaled, d), ordered. */
  def lengthDriftBySource(docs: DataFrame): DataFrame = {
    val cnt = docs.groupBy(col("source"),
        expr("CAST(length(bin(greatest(n_chars, 1L))) AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("cn"))
    val mat = cnt.select(col("source")).distinct()
      .crossJoin(cnt.select(col("v")).distinct())
      .join(cnt, Seq("source", "v"), "left")
      .select(col("source"), col("v"), coalesce(col("cn"), lit(0L)).as("a"))
    val ct = RankGrid.below(cnt.groupBy(col("v")).agg(sum(col("cn")).as("t")),
        Nil, "v", Seq("t"))
      .select(col("v"), (col("t_lt") + col("t")).as("ct"))
    val nA = cnt.groupBy(col("source")).agg(sum(col("cn")).as("n_docs"))
    val nT = cnt.agg(coalesce(sum(col("cn")), lit(0L)).as("n_total"))
    RankGrid.below(mat, Seq("source"), "v", Seq("a"))
      .withColumn("ca", col("a_lt") + col("a"))
      .join(broadcast(ct), "v")
      .join(broadcast(nA), "source")
      .crossJoin(broadcast(nT))
      .withColumn("n_rest", col("n_total") - col("n_docs"))
      .groupBy(col("source"), col("n_docs"), col("n_rest"))
      .agg(max(abs(col("ca") * col("n_rest") -
        (col("ct") - col("ca")) * col("n_docs"))).as("d_scaled"))
      .select(col("source"), col("n_docs"), col("n_rest"), col("d_scaled"),
        (col("d_scaled").cast("double") /
          expr("nullif(n_docs * n_rest, 0)")).as("d"))
      .orderBy(col("source"))
  }

  /** ONE-WAY ANOVA F (round 13) — the k-group generalization closing
    * the classical-test family (t² two groups, U/KS rank/shape, χ²
    * categorical, THIS for k means): does event type explain value
    * variance? The [[welchT2]] doctrine at k = 5: every accumulation
    * is an exact integer (per-group n, Σcents, Σcents²), the groups
    * fold in ONE FIXED ORDER (the five known event types, pivoted to
    * named columns — a data-ordered double sum would be
    * partition-order-dependent), and the F statistic is one
    * fixed-order double expression shared verbatim with the oracle
    * via [[AnovaTail]]. Rows with a NULL type are excluded
    * (documented — they are not a treatment group).
    *
    * Output (one row): k_groups, n_total, ss_between, ss_within,
    * f_stat. */
  def anovaOneWay(events: DataFrame,
                  types: Seq[String] = AnovaTypes): DataFrame = {
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val t = col("event_type")
    // Σc² accumulates in DECIMAL(38,0), not BIGINT: at ~10⁹ rows of
    // 10⁵-cent values the squares' sum exceeds int64, where DuckDB's
    // SUM(BIGINT) promotes to HUGEINT — the spearman/HHI doctrine.
    val qdec = DecimalType(38, 0)
    val aggs = types.flatMap { ty =>
      val k = ty.replaceAll("[^a-z]", "")
      Seq(
        coalesce(sum(when(col("ty") === ty, 1L).otherwise(0L)), lit(0L))
          .as(s"n_$k"),
        coalesce(sum(when(col("ty") === ty, col("c"))), lit(0L))
          .as(s"s_$k"),
        coalesce(sum(when(col("ty") === ty,
          (col("c") * col("c")).cast(qdec))), lit(0L).cast(qdec))
          .as(s"q_$k"))
    }
    events.filter(t.isin(types: _*))
      .select(t.as("ty"), cents.as("c"))
      .agg(aggs.head, aggs.tail: _*)
      .select(lit(types.length.toLong).as("k_groups"),
        expr(AnovaTail("n_total")).as("n_total"),
        expr(AnovaTail("ss_between")).as("ss_between"),
        expr(AnovaTail("ss_within")).as("ss_within"),
        expr(AnovaTail("f_stat")).as("f_stat"))
  }

  private[graft] val AnovaTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** BROWN–FORSYTHE / LEVENE TEST (round 14) — variance homogeneity
    * across the event-type groups: the check that VALIDATES
    * [[anovaOneWay]] (ANOVA assumes equal group variances; when this F
    * is large, that F is not trustworthy — the two keys are read
    * together). Brown–Forsythe = one-way ANOVA on the absolute
    * deviations from each group's MEDIAN (the robust variant — the
    * mean-based original is fragile exactly when it matters).
    * ENGINE-EXACT: deviations are DOUBLED-median integers
    * z = |2c − med2| (med2 = the two middle values' sum over the
    * VALUE-GROUPED cents grid — [[RankGrid.orderStats]] selection on
    * the grid, so no per-row sort and no halving division),
    * then the SAME pivoted n/s/q aggregation and the SAME
    * [[AnovaTail]] fixed-order double tree as `stats_anova` (doubling
    * z scales SSB and SSW by 4 — F is invariant, and both engines run
    * the identical tree). Σz² in DECIMAL(38,0).
    *
    * Scale shape: one value-grouped aggregation (the rank kernel's
    * windows, partitioned by type), a broadcast ≤k-row median join,
    * one pivoted full-data aggregation. Output (one row): k_groups, n_total,
    * ss_between, ss_within, f_stat — on the z relation. */
  def leveneBrownForsythe(events: DataFrame,
                          types: Seq[String] = AnovaTypes): DataFrame = {
    val qdec = DecimalType(38, 0)
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val base = events.filter(col("event_type").isin(types: _*))
      .select(col("event_type").as("ty"), cents.as("c"))
    val vg = base.groupBy(col("ty"), col("c").as("v"))
      .agg(count(lit(1)).as("m"))
    val ranks = vg.groupBy(col("ty")).agg(sum(col("m")).as("n"))
      .select(col("ty"),
        expr("stack(2, 'lo', (n + 1) div 2, 'hi', n div 2 + 1) AS (which, k)"))
    val med = RankGrid.orderStats(vg, Seq("ty"), "v", "m", ranks)
      .groupBy(col("ty"))
      .agg((min(when(col("which") === "lo", col("v"))) +
        min(when(col("which") === "hi", col("v")))).as("med2"))
    val z = base.join(broadcast(med), "ty")
      .select(col("ty"), abs(lit(2L) * col("c") - col("med2")).as("c"))
    val aggs = types.flatMap { ty =>
      val k = ty.replaceAll("[^a-z]", "")
      Seq(
        coalesce(sum(when(col("ty") === ty, 1L).otherwise(0L)), lit(0L))
          .as(s"n_$k"),
        coalesce(sum(when(col("ty") === ty, col("c"))), lit(0L))
          .as(s"s_$k"),
        coalesce(sum(when(col("ty") === ty,
          (col("c") * col("c")).cast(qdec))), lit(0L).cast(qdec))
          .as(s"q_$k"))
    }
    z.agg(aggs.head, aggs.tail: _*)
      .select(lit(types.length.toLong).as("k_groups"),
        expr(AnovaTail("n_total")).as("n_total"),
        expr(AnovaTail("ss_between")).as("ss_between"),
        expr(AnovaTail("ss_within")).as("ss_within"),
        expr(AnovaTail("f_stat")).as("f_stat"))
  }

  /** The SHARED fixed-order χ² tail of [[eventMixDrift]] (the
    * [[AnovaTail]] doctrine): per-type (o−e)²/e terms fold
    * left-to-right in [[AnovaTypes]] order, with the expected count
    * e = n_w·g_t/n_tot computed in one fixed double tree per term; a
    * type with zero GLOBAL mass contributes literal 0.0 (it cannot
    * drift from nothing). Interpolated verbatim into both engines. */
  private[graft] def MixDriftTail: String =
    AnovaTypes.map(_.replaceAll("[^a-z]", "")).map { k =>
      val e = s"(CAST(n_w AS DOUBLE) * g_$k / n_tot)"
      s"(CASE WHEN g_$k > 0 THEN " +
        s"((CAST(o_$k AS DOUBLE) - $e) * (CAST(o_$k AS DOUBLE) - $e)) / $e " +
        "ELSE 0.0 END)"
    }.mkString(" + ")

  /** EVENT-MIX DRIFT monitor (round 13) — per week, the χ² of that
    * week's event-type composition against the GLOBAL mix: the
    * mix-stability readout completing the drift-monitor trio (counts
    * drift → `event_cusum`, length shapes → `quality_len_drift`,
    * categorical mix → THIS — a client release that stops sending one
    * event type moves this number the week it ships). Exact integer
    * observed counts pivoted to the fixed [[AnovaTypes]] columns, the
    * global mix on a broadcast 1-row frame, and the χ² is the shared
    * [[MixDriftTail]] — fixed-order terms, expected counts in one
    * double tree per type, interpolated verbatim into the oracle. One
    * ≤ weeks·types aggregation + a 1-row broadcast.
    *
    * Output: (week, n_events, chi2), ordered. */
  def eventMixDrift(events: DataFrame): DataFrame = {
    val ks = AnovaTypes.map(_.replaceAll("[^a-z]", ""))
    val keyed = events.select(
      date_trunc("week", col("ts")).as("week"), col("event_type"))
    val weekly = keyed.groupBy(col("week"))
      .agg(count(lit(1)).as("n_w"),
        ks.map(k => sum(when(col("event_type") === k, 1L).otherwise(0L))
          .as(s"o_$k")): _*)
    val global = keyed.agg(count(lit(1)).as("n_tot"),
      ks.map(k => sum(when(col("event_type") === k, 1L).otherwise(0L))
        .as(s"g_$k")): _*)
    weekly.crossJoin(broadcast(global))
      .select(col("week"), col("n_w").as("n_events"),
        expr(MixDriftTail).as("chi2"))
      .orderBy(col("week"))
  }

  /** The SHARED fixed-order double tail of [[anovaOneWay]] — one SQL
    * text interpolated verbatim into both engines (the WelchTail
    * doctrine): group terms fold left-to-right in the fixed
    * [[AnovaTypes]] order, so the double sums associate identically. */
  private[graft] def AnovaTail(what: String): String = {
    val ks = AnovaTypes.map(_.replaceAll("[^a-z]", ""))
    val n = ks.map(k => s"n_$k").mkString(" + ")
    val s = ks.map(k => s"CAST(s_$k AS DOUBLE)").mkString(" + ")
    // Σ S_g²/n_g folded in fixed order; a zero-count group contributes
    // literal 0.0 (not NaN) so degenerate fixtures stay defined
    val sb = ks.map(k =>
      s"(CASE WHEN n_$k > 0 THEN (CAST(s_$k AS DOUBLE) * CAST(s_$k AS DOUBLE)) / n_$k ELSE 0.0 END)")
      .mkString(" + ")
    // q_* is DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the
    // decimal→STRING→double bridge keeps the conversion bit-identical
    // across engines once the sum passes 2^53 (groupedCorrelation).
    val q = ks.map(k => s"CAST(CAST(q_$k AS STRING) AS DOUBLE)")
      .mkString(" + ")
    val kLive = ks.map(k => s"(CASE WHEN n_$k > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    what match {
      case "n_total" => s"CAST($n AS BIGINT)"
      case "ss_between" =>
        s"(($sb) - (($s) * ($s)) / nullif($n, 0))"
      case "ss_within" => s"(($q) - ($sb))"
      case "f_stat" =>
        s"(((($sb) - (($s) * ($s)) / nullif($n, 0)) / nullif(($kLive) - 1, 0)) / " +
          s"nullif(((($q) - ($sb)) / nullif(($n) - ($kLive), 0)), 0.0))"
    }
  }

  /** TYPE-REVENUE SHARE (round 12) — the TPC-H Q14 shape: what share
    * of discounted revenue a part category drives, the
    * assortment-planning number. The join is fact-dim on the part key
    * (co-keyed at scale; the dim carries only (key, type) — two
    * columns, broadcast when small, co-partitioned when not), the
    * money is the decimal doctrine (extprice·(1−discount) at scale 4,
    * ×10⁴ to exact BIGINT "centi-cents"), and the share is integer
    * ppm of exact units — one row out, no float until the surfaced
    * revenue casts. */
  def typeRevenueShare(lineitem: DataFrame, part: DataFrame,
                       promoType: String = "ECONOMY"): DataFrame = {
    val rev = (dec2(col("l_extendedprice")) *
      (lit(BigDecimal(1)).cast(DecimalType(3, 2)) -
        col("l_discount").cast(DecimalType(3, 2))) * 10000)
      .cast("long")
    lineitem.select(col("l_partkey"), rev.as("r"))
      .join(part.select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("p_type") === promoType, 1L).otherwise(0L))
          .as("n_promo_lines"),
        sum(col("r")).as("total_r"),
        sum(when(col("p_type") === promoType, col("r")).otherwise(0L))
          .as("promo_r"))
      .select(col("n_lines"), col("n_promo_lines"),
        (col("promo_r").cast("double") / 10000).as("promo_revenue"),
        (col("total_r").cast("double") / 10000).as("total_revenue"),
        // ppm via the SCALED-DENOMINATOR form: promo_r·10⁶ overflows
        // int64 past ~9e12 centi-cents (a few $B of revenue), so divide
        // the denominator instead — same integer expression on both
        // engines, exactly replayable, error ≤ 1 ppm by construction
        expr("promo_r div nullif(total_r div 1000000, 0L)")
          .as("promo_ppm"))
  }

  /** Fulfillment SLA horizon (days), shared with the oracle. */
  val SlaDays: Long = 30L

  /** FULFILLMENT-LAG SLA AUDIT (round 12) — order-to-ship latency per
    * priority class, the operations dual of `order_repeat_interval`'s
    * demand cadence: per priority, exact day lags from the order date
    * to each line's ship date (min/max/floor-div mean) and the share
    * shipped within the [[SlaDays]] horizon as integer ppm — the
    * "are HIGH orders actually faster" readout. One fact-fact
    * equi-join on the order key (co-keyed at any scale — the q10
    * shape) + a 5-group map-side-combinable aggregation. */
  def fulfillmentLag(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("lag_days"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_lines"),
        min(col("lag_days")).as("min_lag_days"),
        max(col("lag_days")).as("max_lag_days"),
        sum(col("lag_days")).as("sum_lag_days"),
        sum(when(col("lag_days") <= SlaDays, 1L).otherwise(0L))
          .as("n_within_sla"))
      .select(col("priority"), col("n_lines"), col("min_lag_days"),
        col("max_lag_days"),
        // sign-split: group lag sums CAN go negative (synthetic or
        // corrected dates), and floor-vs-truncate differs across
        // engines on negative division
        expr("CASE WHEN sum_lag_days < 0 " +
          "THEN -(abs(sum_lag_days) div n_lines) " +
          "ELSE sum_lag_days div n_lines END").as("mean_lag_days"),
        expr("CAST((n_within_sla * 1000000) div n_lines AS BIGINT)")
          .as("sla_ppm"))
      .orderBy(col("priority"))

  /** Pareto report head sizes, shared with the oracle generator. */
  val ParetoNs: Seq[Int] = Seq(1, 10, 100)

  /** REVENUE CONCENTRATION / PARETO AUDIT (round 12) — "how much of
    * the business is the top-N customers": the whale-risk number every
    * revenue review opens with, and the skew diagnostic for the
    * customer key (a spend distribution concentrated enough to matter
    * here is exactly the one that needs salting there). Per head size
    * in [[ParetoNs]]: the exact cents captured by the top-N customers
    * (rank by (spend DESC, custkey) — deterministic ties) against the
    * exact total, as integer ppm. The ranking window runs over the
    * TakeOrdered max(N)-row frame — driver-bounded by construction,
    * never a global sort. */
  def paretoReport(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = orders.sparkSession
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val cust = orders.groupBy(col("o_custkey")).agg(sum(cents).as("cents"))
    val total = cust.agg(sum(col("cents")).as("cents_total"),
      count(lit(1)).as("n_customers"))
    val top = cust.orderBy(col("cents").desc, col("o_custkey"))
      .limit(ParetoNs.max)
    val w = Window.orderBy(col("cents").desc, col("o_custkey"))
    val ranked = top.withColumn("rn", row_number().over(w))
    val aggs = ParetoNs.map(n =>
      sum(when(col("rn") <= n, col("cents"))).as(s"c$n"))
    ranked.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ParetoNs.map(n =>
        struct(lit(n.toLong).as("top_n"), col(s"c$n").as("cents_topn"))): _*))
        .as("p"))
      .select(col("p.top_n").as("top_n"), col("p.cents_topn").as("cents_topn"))
      .crossJoin(broadcast(total))
      .select(col("top_n"), col("n_customers"), col("cents_topn"),
        col("cents_total"),
        expr("CAST((cents_topn * 1000000) div nullif(cents_total, 0L) " +
          "AS BIGINT)").as("share_ppm"))
      .orderBy(col("top_n"))
  }

  /** LINEAR TREND FORECAST (round 12) — the capacity-planning readout
    * over the per-type daily series: exact OLS of daily cents against
    * the day index, surfaced as slope_milli plus the next-day forecast.
    * Everything stays in BIGINT rationals: x is RE-CENTERED to each
    * type's first day (datediff from the per-type min — without this
    * the epoch-day cross terms overflow int64 at a few years of data),
    * the normal-equation num/den are exact sums, and both divisions
    * are sign-split (floor-vs-truncate differs across engines). The
    * forecast is the exact rational (sy·den − num·sx + n·num·x*) div
    * (n·den) at x* = x_max+1. den = 0 (single-day series) yields NULL
    * slope/forecast on both engines.
    *
    * Scale shape: one daily aggregation, one broadcast per-type-min
    * join, one map-side-combinable per-type reduction; rows out =
    * event types. */
  def linearForecast(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(12,2)")).as("v_dec"))
      .select(col("event_type"), col("day"),
        (col("v_dec") * 100).cast("long").as("y"))
    val d0 = daily.groupBy(col("event_type")).agg(min(col("day")).as("d0"))
    daily.join(broadcast(d0), "event_type")
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("x"), col("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        max(col("x")).as("x_max"))
      .select(col("event_type"), col("n").as("n_days"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("den"),
        (col("x_max") + 1L).as("next_x"),
        col("sx"), col("sy"))
      .select(col("event_type"), col("n_days"), col("num"), col("den"),
        col("next_x"),
        expr("CAST(sign(num) AS BIGINT) * ((abs(num) * 1000) div nullif(den, 0L))")
          .as("slope_milli"),
        expr("CAST(sign(sy * den - num * sx + n_days * num * next_x) AS BIGINT) * " +
          "(abs(sy * den - num * sx + n_days * num * next_x) div nullif(n_days * den, 0L))")
          .as("forecast_cents"))
      .orderBy(col("event_type"))
  }

  /** LARGE-ORDER BUYERS (round 12) — the TPC-H Q18 shape: orders whose
    * total line quantity clears a threshold, joined back to their
    * customer. The aggregation-then-join order is the scale story: the
    * HAVING filter reduces the lineitem aggregate to a tiny survivor
    * set BEFORE any join, so both joins broadcast the survivors against
    * the big tables instead of shuffling orders×lineitem. Quantities
    * are integral by data contract — cast to BIGINT so the sum and the
    * threshold compare exactly on any engine. Top-100 by
    * (o_totalprice DESC, o_orderkey) as TakeOrdered, never a global
    * sort. */
  def topBuyers(lineitem: DataFrame, orders: DataFrame,
                customer: DataFrame, minQty: Long = 300L,
                topN: Int = 100): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    orders.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(topN)
  }

  // ---- Round-13 TPC-H batch ------------------------------------------
  // The remaining TPC-H shapes expressible over this schema (the
  // testdata carries no partsupp and trims several columns — q2/q9/q11/
  // q16/q20 are out of reach; predicates on missing columns are adapted
  // to present ones, noted per query). Shared doctrine: filters reach
  // the scans, money math in exact DECIMAL summed then cast to double
  // ONCE (order-insensitive, engine-exact), dims broadcast, top-K as
  // TakeOrdered, ratios as one IEEE division of two exact values.

  /** TPC-H Q1 — the pricing summary report: the canonical full-scan
    * aggregate every OLAP engine is sized by. One map-side-combinable
    * groupBy over the filtered scan (4 decimal sums + count ride one
    * Exchange of ≤ |flags×status| rows); averages are emitted as
    * exact-sum / count in ONE IEEE division each, never a running
    * double AVG (partial order would leak into the last ulp). */
  def q1PricingSummary(lineitem: DataFrame,
                       cutoff: String = "1998-09-01"): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val disc = dec2(col("l_discount"))
    val tax = dec2(col("l_tax"))
    lineitem.filter(col("l_shipdate") <= lit(cutoff).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (one - disc)).cast("double")
          .as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * (one - disc) * (one + tax))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("count_order"))
      .withColumn("avg_price",
        col("sum_base_price") / col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q4 — order-priority checking: orders of one quarter having
    * at least one late line. The schema carries no commit/receipt
    * dates, so "late" adapts to l_shipdate > o_orderdate + 30 days
    * (ship lag — same correlated-EXISTS shape). Plans as a LEFT SEMI
    * join (equi on orderkey + the lag predicate as residual join
    * condition): no duplicate explosion, the quarter filter reaches
    * the orders scan, and the bounded priority groupBy follows. */
  def q4OrderPriority(orders: DataFrame, lineitem: DataFrame,
                      quarterStart: String = "1996-01-01",
                      quarterEnd: String = "1996-04-01"): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(quarterStart).cast("timestamp") &&
        col("o_orderdate") < lit(quarterEnd).cast("timestamp"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q7 — volume shipping between two nations: revenue of lines
    * where supplier and customer sit in opposite nations of the pair,
    * by ship year. Two independent nation lookups (both broadcast —
    * 25 rows at any SF) hang off the lineitem→orders→customer and
    * lineitem→supplier legs; the pair filter collapses the join output
    * before the bounded (supp, cust, year) groupBy. */
  def q7VolumeShipping(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame, supplier: DataFrame,
                       nation: DataFrame,
                       nationA: String = "NATION_1",
                       nationB: String = "NATION_2"): DataFrame = {
    val n1 = broadcast(nation.select(col("n_nationkey").as("s_nk"),
      col("n_name").as("supp_nation")))
    val n2 = broadcast(nation.select(col("n_nationkey").as("c_nk"),
      col("n_name").as("cust_nation")))
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 — national market share: of the region's ECONOMY-type
    * order volume, the fraction supplied by one nation, per order
    * year. The share is a ratio of two exact integer sums in basis
    * points (the ×10000 multiplier clears the product's 4-digit
    * decimal scale EXACTLY — the q14 doctrine; a ×100 "cents" form
    * would leave a fractional decimal that Spark truncates and DuckDB
    * rounds), divided ONCE in doubles — bit-stable cross-engine.
    * Region membership resolves through nation⋈region (broadcast). */
  def q8MarketShare(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, supplier: DataFrame,
                    nation: DataFrame, region: DataFrame, part: DataFrame,
                    regionName: String = "ASIA",
                    suppNation: String = "NATION_3",
                    partType: String = "ECONOMY"): DataFrame = {
    val custNations = broadcast(nation
      .join(region.filter(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk")))
    val suppNations = broadcast(nation
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val vol = (dec2(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))) * 10000)
      .cast("long")
    lineitem
      .join(broadcast(part.filter(col("p_type") === partType)
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(custNations, col("c_nationkey") === col("c_nk"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(suppNations, col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(vol).as("total_bp"),
        sum(when(col("supp_nation") === suppNation, vol).otherwise(0L))
          .as("nation_bp"))
      .withColumn("mkt_share",
        col("nation_bp").cast("double") / col("total_bp"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q12 — shipping-delay accounting by line status (the schema
    * carries no l_shipmode/commit/receipt dates; the grouping adapts
    * to l_linestatus and "late" to ship lag > 60 days): per status,
    * how many late lines belonged to critical-priority orders vs not.
    * Fact-fact equi-join with both filters pushed below it; bounded
    * two-row output. */
  def q12LateLines(lineitem: DataFrame, orders: DataFrame,
                   yearStart: String = "1996-01-01",
                   yearEnd: String = "1997-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
        col("l_shipdate") < lit(yearEnd).cast("timestamp"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("l_linestatus"))

  /** TPC-H Q13 — customer order-count distribution: how many customers
    * placed k orders (k = 0 included — the LEFT join is the point).
    * The o_comment exclusion adapts to dropping '4-NOT SPECIFIED'
    * priority orders. Two-level aggregate: per-customer count (the only
    * wide shuffle), then the bounded distribution groupBy. */
  def q13CustomerDistribution(customer: DataFrame,
                              orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q17 — small-quantity-order revenue: lines of one brand's
    * small parts (p_container adapts to p_size ≤ 10) whose quantity is
    * below 20% of the part's average, yearly revenue = their price sum
    * / 7. The correlated average decorrelates into a per-part
    * aggregate joined back; the 0.2·avg comparison cross-multiplies to
    * exact integers (5·qty·n < sum_qty — quantities are integral by
    * data contract), so no engine ever divides. */
  def q17SmallQtyRevenue(lineitem: DataFrame, part: DataFrame,
                         brand: String = "Brand#3",
                         maxSize: Int = 10): DataFrame = {
    val parts = broadcast(part
      .filter(col("p_brand") === brand && col("p_size") <= maxSize)
      .select(col("p_partkey")))
    val li = lineitem.join(parts, col("l_partkey") === col("p_partkey"))
    val avgq = li.groupBy(col("p_partkey").as("ap"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"),
        count(lit(1)).as("nq"))
    li.join(broadcast(avgq), col("p_partkey") === col("ap"))
      .filter(col("l_quantity").cast("long") * 5L * col("nq") < col("sq"))
      .agg((sum(dec2(col("l_extendedprice"))).cast("double") / 7.0)
        .as("avg_yearly"))
  }

  /** TPC-H Q15 — top supplier(s) by quarterly revenue: the
    * view-plus-scalar-max shape. The per-supplier revenue aggregate is
    * computed ONCE and reused on both sides (the max rides a 1-row
    * broadcast gate frame — no re-aggregation, no correlated
    * subquery); ties all surface, per the spec. Revenue compares in
    * exact centi-cents (the ×10⁴ doctrine) so the max-equality join
    * cannot ulp-miss; the surfaced revenue casts to double once. */
  def q15TopSupplier(lineitem: DataFrame, supplier: DataFrame,
                     quarterStart: String = "1996-01-01",
                     quarterEnd: String = "1996-04-01"): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(quarterStart).cast("timestamp") &&
        col("l_shipdate") < lit(quarterEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))) * 10000)
        .cast("long")).as("rev_ccents"))
    val top = rev.agg(max(col("rev_ccents")).as("max_ccents"))
    rev.crossJoin(broadcast(top))
      .filter(col("rev_ccents") === col("max_ccents"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_ccents").cast("double") / 10000.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21 — suppliers who kept orders waiting: the
    * multi-EXISTS/NOT-EXISTS composition (the hardest plan shape in
    * the suite). Adapted to this schema: a line is LATE when
    * l_shipdate > o_orderdate + 60 days (no receipt/commit dates).
    * For finished multi-supplier orders, count per supplier the
    * orders where THIS supplier shipped late and NO OTHER supplier
    * did. Decorrelated: one per-(order, supplier) aggregate, then
    * per-order supplier/late-supplier counts joined back — the two
    * EXISTS collapse into bounded integer comparisons (n_supp > 1,
    * n_late_supp = 1) instead of two correlated scans. Top-20 by
    * (numwait DESC, s_name) as TakeOrdered. */
  def q21WaitingSuppliers(lineitem: DataFrame, orders: DataFrame,
                          supplier: DataFrame, topN: Int = 20): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 60 DAYS")
    val perOrderSupp = lineitem
      .join(orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("l_suppkey"))
      .agg(max(when(late, 1L).otherwise(0L)).as("supp_late"))
    val perOrder = perOrderSupp.groupBy(col("o_orderkey").as("ok"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("supp_late")).as("n_late_supp"))
    perOrderSupp
      .join(perOrder, col("o_orderkey") === col("ok"))
      .filter(col("supp_late") === 1L && col("n_supp") > 1L &&
        col("n_late_supp") === 1L)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("s_suppkey"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(topN)
  }

  /** TPC-H Q19 — discounted revenue under an OR-of-ANDs predicate
    * (three brand/size/quantity bands; p_container adapts to p_size
    * bands): the disjunctive-pushdown exercise. One equi-join on
    * partkey with the disjunction as residual condition; part side
    * pre-filtered to the union of brands so the broadcast stays
    * minimal. */
  def q19DiscountedRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val p = broadcast(part
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size")))
    val bands =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    lineitem.join(p, col("l_partkey") === col("p_partkey") && bands)
      .agg(count(lit(1)).as("n_lines"),
        sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  /** TPC-H Q22 — global sales opportunity: well-funded customers
    * (acctbal above the positive-balance average) with no RECENT
    * order (every fixture customer has ordered at some point, so
    * TPC-H's "never ordered in 7 years" adapts to "lapsed since
    * `sinceDate`"), grouped by a customer segment code (the phone
    * country code adapts to c_custkey % 7). The scalar average rides
    * a 1-row broadcast gate frame (exact decimal sum / count, ONE
    * IEEE division); the lapsed test is a LEFT ANTI join — no
    * correlated subquery survives into the plan. */
  def q22SalesOpportunity(customer: DataFrame, orders: DataFrame,
                          sinceDate: String = "1999-01-01"): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") /
        count(lit(1))).as("avg_bal"))
    customer
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_orderdate") >= lit(sinceDate).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(pmod(col("c_custkey"), lit(7L)).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  /** REFERENTIAL-INTEGRITY AUDIT (round 13) — orphan counts over every
    * FK edge of the star schema, the first data-quality report any
    * warehouse ingestion runs (and the one that catches a broken CDC
    * feed before a join silently drops rows). Per edge: child rows,
    * distinct child keys, orphan rows/keys (key present but no parent
    * row), NULL-key rows (a NULL FK is MISSING, not an orphan — split
    * out so both failure modes stay visible). Scale shape: the child
    * side collapses to its KEY-GROUPED table first (bounded by the key
    * domain, never row count — one map-side-combinable aggregation per
    * edge), then one left join against the distinct parent keys —
    * broadcast when the parent is a dimension, shuffled on the bounded
    * key table when it is a fact. ≤ |edges| rows out at any scale.
    *
    * Output: (edge, n_rows, n_keys, orphan_rows, orphan_keys,
    * null_rows), ordered by edge. */
  def fkIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String, Boolean)])
      : DataFrame = {
    val audits = edges.map { case (name, child, ck, parent, pk, small) =>
      val grouped = child.groupBy(col(ck).as("k"))
        .agg(count(lit(1)).as("c"))
      val pKeys0 = parent.select(col(pk).as("k")).distinct()
        .withColumn("hit", lit(1))
      val pKeys = if (small) broadcast(pKeys0) else pKeys0
      grouped.join(pKeys, Seq("k"), "left")
        .agg(
          coalesce(sum(col("c")), lit(0L)).as("n_rows"),
          count(col("k")).as("n_keys"),
          coalesce(sum(when(col("hit").isNull && col("k").isNotNull,
            col("c")).otherwise(lit(0L))), lit(0L)).as("orphan_rows"),
          coalesce(sum(when(col("hit").isNull && col("k").isNotNull, 1L)
            .otherwise(lit(0L))), lit(0L)).as("orphan_keys"),
          coalesce(sum(when(col("k").isNull, col("c")).otherwise(lit(0L))),
            lit(0L)).as("null_rows"))
        .select(lit(name).as("edge"), col("n_rows"), col("n_keys"),
          col("orphan_rows"), col("orphan_keys"), col("null_rows"))
    }
    audits.reduce(_.unionAll(_)).orderBy(col("edge"))
  }

  /** ABC class cut points in ppm of cumulative revenue share, shared
    * with the oracle generator: class A while cum ≤ 80%, B while ≤ 95%,
    * C above. */
  val AbcCutsPpm: (Long, Long) = (800000L, 950000L)

  /** ABC INVENTORY CLASSIFICATION (round 14) — the Pareto-derived
    * stocking policy every inventory review runs: within each
    * brand, rank parts by discounted lineitem revenue and split
    * them where the cumulative share crosses 80% (class A) and 95%
    * (class B) of the brand's total. EXACT throughout: revenue
    * in integer units of 10⁻⁴ currency (the ×10⁴ full-scale doctrine —
    * extprice(12,2)·(1−disc(12,2)) has scale 4), cumulative and total
    * sums in DECIMAL(38,0) (headroom to ~10³¹ total units — squared
    * warehouse revenue is not involved here, but cum·10⁶ is), the
    * crossing part itself lands in the NEXT class (cum_ppm uses `≤`).
    *
    * Scale shape: one lineitem aggregation to O(parts), a part-dim
    * join, then a window PARTITIONED by brand for the running
    * sum — never a global sort. At true warehouse scale a per-group
    * magnitude pre-bucketing would bound the per-group window volume;
    * at catalog scale (parts ≪ lineitems) the per-brand window is the
    * honest plan. ≤ brand×3 rows out.
    *
    * Output: (p_brand, abc_class, n_parts, units, share_ppm), ordered. */
  def abcClassification(lineitem: DataFrame, part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val units = (dec2(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(3, 2)) - dec2(col("l_discount"))) * 10000)
      .cast(dec)
    val rev = lineitem.groupBy(col("l_partkey"))
      .agg(sum(units).as("u"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_partkey"), col("u"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("u").desc, col("p_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = rev.groupBy(col("p_brand")).agg(sum(col("u")).as("total"))
    val (cutA, cutB) = AbcCutsPpm
    rev.withColumn("cum", sum(col("u")).over(w))
      .join(broadcast(totals), "p_brand")
      .withColumn("cum_ppm",
        expr("CAST((cum * 1000000) div nullif(total, 0) AS BIGINT)"))
      .withColumn("abc_class",
        when(col("cum_ppm") <= cutA, "A")
          .when(col("cum_ppm") <= cutB, "B").otherwise("C"))
      .groupBy(col("p_brand"), col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("u")).as("units_dec"),
        max(col("total")).as("total"))
      .select(col("p_brand"), col("abc_class"), col("n_parts"),
        col("units_dec").cast("string").as("units"),
        expr("CAST((units_dec * 1000000) div nullif(total, 0) AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("p_brand"), col("abc_class"))
  }

  /** THEIL–SEN ROBUST TREND (round 14) — the median-of-pairwise-slopes
    * estimator over the per-type daily event series: the
    * outlier-resistant answer to `event_forecast_linear`'s OLS (one
    * anomalous day drags an OLS slope arbitrarily; it moves the Theil–
    * Sen median by at most one rank). EXACT RATIONAL throughout — the
    * engine never divides two slopes: each pair slope is the integer
    * pair (num = y_j − y_i, den = x_j − x_i > 0), order between slopes
    * is decided by BIGINT cross-multiplication (num_a·den_b vs
    * num_b·den_a — dens positive), and the LOWER MEDIAN (rank
    * ⌈m/2⌉ = (m+1) div 2) is selected by counting: a representation r
    * is the median iff c_lt(r) < rank ≤ c_lt(r) + c_eq(r). Slopes are
    * CANONICALIZED to reduced fractions first (round 15, advisor):
    * each (num, den) divides by gcd(|num|, den) — a fixed-depth
    * unrolled Euclid (92 steps: the true 64-bit worst case is ~91
    * steps on consecutive Fibonacci pairs, and the finisher asserts
    * convergence — round 16, advisor) so rationally equal slopes
    * COLLAPSE to one
    * representation with a multiplicity, the counting join runs over
    * the distinct-slope grid weighted by those counts (O(distinct²)
    * instead of O(reps × pairs) — the raw form is quartic in span
    * length: ~365 days is billions of intermediate rows per type),
    * and equality needs no cross-multiplication at all (canonical
    * forms are equal iff structurally equal, so c_eq is the rep's own
    * multiplicity). Exactly one canonical rep per type satisfies the
    * rank condition (cumulative counts partition the ranks), so the
    * median surfaces with no tie-break window. Days with no events
    * are REAL zero observations on the calendar grid (the round-13
    * gap-fill doctrine), not missing points.
    *
    * Scale shape: the series is CALENDAR-BOUNDED (days in span), so
    * the O(n²) pair relation and the O(distinct²) counting join are
    * bounded by the time window, not data volume — the only full-data
    * pass is the daily aggregation. All joins are keyed by event_type.
    *
    * Output: (event_type, n_days, n_pairs, med_num, med_den,
    * slope_ppm), ordered by type. (med_num, med_den) is the REDUCED
    * fraction; slope_ppm = sign-split (num·10⁶) div den. */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"), col("lo"),
        explode(sequence(col("lo"), col("hi"),
          expr("interval 1 day"))).as("day"))
    val series = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        datediff(col("day"), col("lo")).cast("long").as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val a = series.select(col("event_type"), col("x").as("xa"), col("y").as("ya"))
    val b = series.select(col("event_type"), col("x").as("xb"), col("y").as("yb"))
    val slopes = a.join(b, "event_type").filter(col("xa") < col("xb"))
      .select(col("event_type"), (col("yb") - col("ya")).as("num"),
        (col("xb") - col("xa")).as("den"))
    // canonical form: divide by gcd(|num|, den) (den > 0 stays > 0;
    // num = 0 reduces to 0/1); Euclid as a fixed-depth fold — both
    // divisions are exact, so truncating div is safe on negatives.
    // Depth 92 covers ANY 64-bit pair (Euclid's worst case is
    // consecutive Fibonacci numbers: F(92) is the largest below 2^63,
    // so ≤ 91 steps always reach b = 0); the finisher still ASSERTS
    // convergence so a future depth edit fails loudly instead of
    // silently dividing by a non-gcd and truncating the median wrong
    val slopesG = slopes
      .withColumn("g", expr(
        "aggregate(sequence(1, 92), named_struct('a', abs(num), 'b', den), " +
          "(acc, i) -> IF(acc.b = 0L, acc, " +
          "named_struct('a', acc.b, 'b', acc.a % acc.b)), " +
          "acc -> CASE WHEN acc.b = 0L THEN acc.a ELSE " +
          "CAST(assert_true(false, 'theilSen: gcd fold did not converge') " +
          "AS BIGINT) END)"))
      .select(col("event_type"), expr("num div g").as("gnum"),
        expr("den div g").as("gden"))
      .groupBy(col("event_type"), col("gnum"), col("gden"))
      .agg(count(lit(1)).as("cnt"))
    val totals = slopesG.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_pairs"))
    val counted = slopesG
      .select(col("event_type"), col("gnum").as("rnum"),
        col("gden").as("rden"), col("cnt").as("own_cnt"))
      .join(slopesG, "event_type")
      .groupBy(col("event_type"), col("rnum"), col("rden"))
      .agg(
        sum(when(col("gnum") * col("rden") < col("rnum") * col("gden"),
          col("cnt")).otherwise(0L)).as("c_lt"),
        max(col("own_cnt")).as("c_eq"))
    val nDays = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    counted
      .join(broadcast(totals), "event_type")
      .filter(expr("c_lt < (n_pairs + 1) div 2") &&
        expr("(n_pairs + 1) div 2 <= c_lt + c_eq"))
      .join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("rnum").as("med_num"), col("rden").as("med_den"),
        expr("CASE WHEN rnum < 0 THEN -((abs(rnum) * 1000000) div rden) " +
          "ELSE (rnum * 1000000) div rden END").as("slope_ppm"))
      .orderBy(col("event_type"))
  }

  /** SPEND-QUARTILE MIGRATION MATRIX (round 14) — the customer
    * lifecycle readout between two halves of the observation span:
    * per customer, the spend quartile in each half (NTILE(4) over
    * (spend, custkey) — both engines distribute tiles by the same SQL
    * rule, so the bucketing is deterministic), then the 6×6 matrix of
    * (from → to) customer counts including the 'new' and 'gone'
    * edges — the churn/upsell flows `customer_rfm`'s static segments
    * cannot show (a stable segment SIZE can hide total membership
    * turnover). The half cutoff is the span's midpoint DATE (derived
    * once, bounded). Quartile windows run per half over the
    * O(customers) aggregated relation.
    *
    * Output: (seg_from, seg_to, n_customers, share_ppm), ordered —
    * shares of the full customer universe. */
  def segmentMigration(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = orders.agg(min(col("o_orderdate")).as("lo"),
      max(col("o_orderdate")).as("hi")).head
    if (b.isNullAt(0))
      return orders.sparkSession.createDataFrame(
        orders.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seg_from",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("seg_to",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_customers",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("share_ppm",
            org.apache.spark.sql.types.LongType))))
    // date-vs-timestamp reader neutrality: take the calendar date via
    // the ISO string prefix (getDate throws when the column surfaces
    // as a timestamp under the Java-8 datetime API)
    val lo = java.time.LocalDate.parse(b.get(0).toString.take(10))
    val hi = java.time.LocalDate.parse(b.get(1).toString.take(10))
    val cut = java.sql.Date.valueOf(
      lo.plusDays(java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2))
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val perHalf = orders
      .select(col("o_custkey"), (col("o_orderdate") < lit(cut)).as("h1"),
        cents.as("c"))
      .groupBy(col("o_custkey"), col("h1")).agg(sum(col("c")).as("spend"))
    val w = Window.partitionBy(col("h1"))
      .orderBy(col("spend"), col("o_custkey"))
    val seg = perHalf.withColumn("seg",
      concat(lit("q"), ntile(4).over(w).cast("string")))
    val a = seg.filter(col("h1")).select(col("o_custkey"),
      col("seg").as("seg_from"))
    val c2 = seg.filter(!col("h1")).select(col("o_custkey"),
      col("seg").as("seg_to"))
    val joined = a.join(c2, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("seg_from"), lit("new")).as("seg_from"),
        coalesce(col("seg_to"), lit("gone")).as("seg_to"))
    val tot = joined.agg(count(lit(1)).as("n_total"))
    joined.groupBy(col("seg_from"), col("seg_to"))
      .agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(tot))
      .select(col("seg_from"), col("seg_to"), col("n_customers"),
        expr("CAST((n_customers * 1000000) div nullif(n_total, 0L) " +
          "AS BIGINT)").as("share_ppm"))
      .orderBy(col("seg_from"), col("seg_to"))
  }

  /** DAILY ALERTING BANDS (round 14) — per event type, the
    * nearest-rank p10/p50/p90 of the gap-filled daily count series:
    * the static thresholds an alerting rule reads ("page when today
    * falls outside the p10–p90 band"), the band complement to
    * [[dispersionIndex]]'s single burstiness number. EXACT rank
    * selection on the value-grouped grid (the mannwhitney/levene
    * front — no per-row sort): p_q = min value whose cumulative count
    * reaches ⌈q·n⌉, with the ceilings as integral divisions
    * ((n+9) div 10, (n+1) div 2, (9n+9) div 10). Gap days are real
    * zeros — a band computed only over active days is blind to the
    * exact silence it should alert on.
    *
    * Output: (event_type, n_days, p10, p50, p90, band_width),
    * ordered. */
  def dailyBands(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val series = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), coalesce(col("y"), lit(0L)).as("y"))
    val vg = series.groupBy(col("event_type"), col("y").as("v"))
      .agg(count(lit(1)).as("m"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = vg.withColumn("cm", sum(col("m")).over(wCum))
      .withColumn("n", sum(col("m")).over(wAll))
    def rankSel(rank: String, name: String) =
      cum.filter(expr(s"cm >= $rank")).groupBy(col("event_type"))
        .agg(min(col("v")).as(name))
    rankSel("(n + 9) div 10", "p10")
      .join(rankSel("(n + 1) div 2", "p50"), "event_type")
      .join(rankSel("(9 * n + 9) div 10", "p90"), "event_type")
      .join(series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days")), "event_type")
      .select(col("event_type"), col("n_days"), col("p10"), col("p50"),
        col("p90"), (col("p90") - col("p10")).as("band_width"))
      .orderBy(col("event_type"))
  }

  /** HOURLY REACH (round 14) — distinct users per tumbling hour beside
    * `event_window_tumbling`'s event counts: reach is what capacity
    * and advertising read (events double-count the heavy user; reach
    * does not). One (window, user) distinct then a count — the
    * standard two-exchange exact-distinct shape; at true scale the
    * swap-in is the KMV sketch (`sketch_theta`'s machinery), kept
    * exact here for the oracle.
    *
    * Output: (win_start, win_end, n_events, n_users), ordered. */
  def hourlyReach(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_events"), col("n_users"))
      .orderBy(col("win_start"))

  /** Error-budget threshold in ppm of daily events, shared with the
    * oracle: sits AT the synthetic corpus's expected error share so
    * daily fluctuation puts days on both sides of it. */
  val ErrorBudgetPpm: Long = 200000L

  /** DAILY ERROR-RATE / SLO BURN (round 14) — the availability readout
    * every on-call dashboard opens with: per day, the error share of
    * all events in exact ppm against a fixed budget, with the
    * over-budget days flagged — the input to burn-rate alerting
    * (error COUNTS alone mislead: a quiet day with few errors can
    * burn more budget than a busy one with many). One full-data
    * aggregation to O(days) rows; exact integral division.
    *
    * Output: (day, n_events, n_errors, err_ppm, over_budget),
    * ordered by day. */
  def errorRate(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .select(col("day"), col("n_events"), col("n_errors"),
        expr("CAST((n_errors * 1000000) div nullif(n_events, 0L) AS BIGINT)")
          .as("err_ppm"))
      .withColumn("over_budget", col("err_ppm") > ErrorBudgetPpm)
      .orderBy(col("day"))

  /** NULL/BLANK/ZERO CENSUS (round 15) — the completeness profile a
    * data contract audits first: per audited column, how many values
    * are NULL, how many are blank-after-trim (string columns), how
    * many are exactly zero (numeric columns) — three different
    * "missing" flavors upstream producers conflate, each a different
    * bug (a NULL event_type is a decoder drop, a blank one a trim bug,
    * a zero value a default-initialized field). ONE full-data
    * aggregation computing all columns' counters as conditional sums
    * (no per-column pass), unpivoted to the fixed 4-row census via a
    * constant-table stack — structurally bounded output.
    *
    * Output: (column, n_rows, n_null, n_blank, n_zero, null_ppm),
    * ordered by column. */
  /** VALUE-DOMAIN RANGE AUDIT (round 16) — the [[nullCensus]]
    * companion for columns whose DOMAIN is part of the contract:
    * per audited lineitem measure, the observed min/max plus counts
    * OUTSIDE the documented domain (quantity ∈ [1, 50], discount ∈
    * [0, 10] hundredths, tax ∈ [0, 8] hundredths — the TPC-H
    * generation contract standing in for any feed-level range SLA).
    * Zero violations is the healthy production reading; min/max still
    * carry signal (a domain quietly narrowing — a vanished discount
    * tier — is visible before any violation exists). One aggregation
    * pass over the scan, stacked to the per-column audit shape —
    * structurally 3 rows (the [[nullCensus]] stack idiom).
    *
    * Output: (column, n_rows, min_val, max_val, n_below, n_above),
    * ordered by column. */
  def valueRangeAudit(lineitem: DataFrame): DataFrame = {
    val q = col("l_quantity").cast("long")
    val dHund = (col("l_discount").cast(DecimalType(12, 2)) * 100)
      .cast("long")
    val tHund = (col("l_tax").cast(DecimalType(12, 2)) * 100).cast("long")
    def lanes(c: Column, p: String, lo: Long, hi: Long) = Seq(
      min(c).as(s"${p}_min"), max(c).as(s"${p}_max"),
      coalesce(sum(when(c < lo, 1L).otherwise(0L)), lit(0L))
        .as(s"${p}_lo"),
      coalesce(sum(when(c > hi, 1L).otherwise(0L)), lit(0L))
        .as(s"${p}_hi"))
    val cols = lanes(q, "q", 1L, 50L) ++ lanes(dHund, "d", 0L, 10L) ++
      lanes(tHund, "t", 0L, 8L)
    val agg = lineitem.agg(count(lit(1)).as("n"), cols: _*)
    agg.select(expr(
      "stack(3, " +
        "'l_discount_hund', d_min, d_max, d_lo, d_hi, " +
        "'l_quantity', q_min, q_max, q_lo, q_hi, " +
        "'l_tax_hund', t_min, t_max, t_lo, t_hi) " +
        "AS (column, min_val, max_val, n_below, n_above)"),
      col("n").as("n_rows"))
      .select(col("column"), col("n_rows"), col("min_val"),
        col("max_val"), col("n_below"), col("n_above"))
      .orderBy(col("column"))
  }

  def nullCensus(events: DataFrame): DataFrame = {
    val agg = events.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("event_type").isNull, 1L).otherwise(0L)), lit(0L)).as("et_null"),
      coalesce(sum(when(col("event_type").isNotNull &&
        trim(col("event_type")) === "", 1L).otherwise(0L)), lit(0L)).as("et_blank"),
      coalesce(sum(when(col("value").isNull, 1L).otherwise(0L)), lit(0L)).as("v_null"),
      coalesce(sum(when(col("value") === 0.0, 1L).otherwise(0L)), lit(0L)).as("v_zero"),
      coalesce(sum(when(col("user_id").isNull, 1L).otherwise(0L)), lit(0L)).as("u_null"),
      coalesce(sum(when(col("user_id") === 0L, 1L).otherwise(0L)), lit(0L)).as("u_zero"),
      coalesce(sum(when(col("props").isNull, 1L).otherwise(0L)), lit(0L)).as("p_null"),
      coalesce(sum(when(col("props").isNotNull &&
        trim(col("props")) === "", 1L).otherwise(0L)), lit(0L)).as("p_blank"))
    agg.select(expr(
      "stack(4, " +
        "'event_type', et_null, et_blank, CAST(NULL AS BIGINT), " +
        "'props', p_null, p_blank, CAST(NULL AS BIGINT), " +
        "'user_id', u_null, CAST(NULL AS BIGINT), u_zero, " +
        "'value', v_null, CAST(NULL AS BIGINT), v_zero) " +
        "AS (column, n_null, n_blank, n_zero)"), col("n").as("n_rows"))
      .select(col("column"), col("n_rows"), col("n_null"), col("n_blank"),
        col("n_zero"),
        expr("CAST((n_null * 1000000) div nullif(n_rows, 0L) AS BIGINT)")
          .as("null_ppm"))
      .orderBy(col("column"))
  }

  /** TIMESTAMP-GRANULARITY COLLISION AUDIT (round 15) — "can this
    * timestamp column survive a coarser encoding?": per truncation
    * grain (µs / ms / second / minute), how many events become
    * INDISTINGUISHABLE from another event — exactly the question the
    * reference's second-granular ODBC text format
    * (hive/HiveExportClient.java:74-77, `ts_format`) poses, and the
    * question every asof-join / dedup key built on a timestamp must
    * answer before a storage migration downcasts the column. A
    * collision is an event sharing its truncated instant with ≥ 1
    * other: n_collisions = n − distinct(trunc(ts)). Four grains, one
    * count-distinct aggregation each over the same scan — structurally
    * 4 rows.
    *
    * Output: (grain, n_events, n_distinct, n_collisions,
    * collision_ppm), ordered by grain name. */
  def tsCollisionAudit(events: DataFrame): DataFrame = {
    val grains = Seq(
      ("1_microsecond", col("ts")),
      ("2_millisecond", date_trunc("millisecond", col("ts"))),
      ("3_second", date_trunc("second", col("ts"))),
      ("4_minute", date_trunc("minute", col("ts"))))
    val aggs = grains.map { case (name, c) =>
      events.agg(count(lit(1)).as("n_events"),
          countDistinct(c).as("n_distinct"))
        .select(lit(name).as("grain"), col("n_events"), col("n_distinct"))
    }
    aggs.reduce(_ unionByName _)
      .select(col("grain"), col("n_events"), col("n_distinct"),
        (col("n_events") - col("n_distinct")).as("n_collisions"),
        expr("CAST(((n_events - n_distinct) * 1000000) div " +
          "nullif(n_events, 0L) AS BIGINT)").as("collision_ppm"))
      .orderBy(col("grain"))
  }

  /** DATA FRESHNESS AUDIT (round 14) — the staleness report a
    * data-platform monitor reads before anything else: per event
    * type, the LAST event time, its exact µs lag behind the
    * corpus-wide latest event, and the freshness rank (1 = freshest;
    * ties by type name) — a producer that silently stopped emitting
    * one type surfaces here first, before any volume metric moves.
    * Lag is exact integer µs (both engines read the same parquet
    * timestamps); the rank window is partitioned... by nothing, but
    * over the ≤|types| aggregated relation (bounded — the zipf-head
    * doctrine). One full-data aggregation + a 1-row broadcast max.
    *
    * Output: (event_type, last_ts, lag_us, freshness_rank),
    * ordered by type. */
  def freshness(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perType = events.groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_ts"))
    val glob = perType.agg(max(col("last_ts")).as("global_ts"))
    val w = Window.orderBy(col("lag_us"), col("event_type"))
    perType.crossJoin(broadcast(glob))
      .select(col("event_type"), col("last_ts"),
        (unix_micros(col("global_ts")) - unix_micros(col("last_ts")))
          .as("lag_us"))
      .withColumn("freshness_rank", row_number().over(w).cast("long"))
      .orderBy(col("event_type"))
  }

  /** DAY-OF-WEEK SEASONAL COMPONENT (round 14) — the STL-lite
    * decomposition's seasonal leg over the daily ORDER-count series:
    * detrend with a CENTERED 7-day moving sum (×7 to stay integer —
    * a centered mean would divide; the window length equals the
    * period, so the trend absorbs no weekly signal), then average the
    * detrended values per day-of-week — the weekday effect
    * `stats_autocorr`'s lag-7 spike detects but cannot SIZE, and the
    * adjustment `order_monthly_growth`'s trend needs before a
    * weekday-heavy month misreads as growth. EXACT: detrended_x7 =
    * 7·y − trend7 (integers; edge days with an incomplete window are
    * excluded — the classic convention), per-dow mean surfaced as
    * sign-split milli of (sum div (7·n)). The centered window runs
    * over the gap-filled calendar grid — unpartitioned but
    * calendar-bounded (the autocorr doctrine). Day-of-week is
    * DAYOFWEEK (1 = Sunday) — identical on both engines over UTC.
    *
    * Output: (dow, n_days, detrended_sum_x7, seasonal_milli),
    * ordered by dow. */
  def seasonalDow(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders.groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("y"))
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val series = grid.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    series
      .withColumn("trend7", sum(col("y")).over(w))
      .withColumn("nwin", count(lit(1)).over(w))
      .filter(col("nwin") === 7)
      .select(dayofweek(col("day")).cast("long").as("dow"),
        (col("y") * 7 - col("trend7")).as("det_x7"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("det_x7")).as("detrended_sum_x7"))
      .select(col("dow"), col("n_days"), col("detrended_sum_x7"),
        expr("CASE WHEN detrended_sum_x7 < 0 " +
          "THEN -((abs(detrended_sum_x7) * 1000) div (7 * n_days)) " +
          "ELSE (detrended_sum_x7 * 1000) div (7 * n_days) END")
          .as("seasonal_milli"))
      .orderBy(col("dow"))
  }

  /** The Wald–Wolfowitz z tree, shared verbatim with the oracle:
    * expects columns runs, n1, n2, n (all BIGINT — calendar-bounded,
    * so every double conversion is exact). */
  private[graft] val RunsZTree: String =
    "(CAST(runs AS DOUBLE) - (1.0 + (2.0 * n1 * n2) / n)) / " +
      "sqrt(((2.0 * n1 * n2) * ((2.0 * n1 * n2) - n)) / " +
      "((CAST(n AS DOUBLE) * n) * (n - 1.0)))"

  /** WALD–WOLFOWITZ RUNS TEST (round 14) — randomness of the per-type
    * daily count series: are above-median and below-median days
    * INDEPENDENT (z ≈ 0), clustered (too few runs, z ≪ 0 — regimes,
    * ramps, weekly cycles), or alternating (too many runs, z ≫ 0 —
    * oscillation, load-balancer flapping)? The nonparametric
    * stationarity check beside [[revenueAutocorr]]'s parametric ACF.
    * EXACT machinery: the median is the DOUBLED rank-selected value
    * over the value-grouped count grid (the levene front), days equal
    * to the median are DROPPED (the classic convention), runs count
    * via one lag() window partitioned by type, and z is ONE fixed
    * IEEE tree over the exact (runs, n1, n2) integers — shared
    * verbatim with the oracle via [[RunsZTree]]; NULL when either
    * side is empty or the variance degenerates (2·n1·n2 ≤ n). Gap
    * days are REAL zeros (the round-13 doctrine).
    *
    * Output: (event_type, n_days, n1, n2, runs, z), ordered. */
  def runsTest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val series = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).as("y"))
    val vg = series.groupBy(col("event_type"), col("y").as("v"))
      .agg(count(lit(1)).as("m"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = vg.withColumn("cm", sum(col("m")).over(wCum))
      .withColumn("nn", sum(col("m")).over(wAll))
    val lo = cum.filter(expr("cm >= (nn + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("v")).as("v_lo"))
    val hi = cum.filter(expr("cm >= nn div 2 + 1"))
      .groupBy(col("event_type")).agg(min(col("v")).as("v_hi"))
    val med = lo.join(hi, "event_type")
      .select(col("event_type"), (col("v_lo") + col("v_hi")).as("med2"))
    val signed = series.join(broadcast(med), "event_type")
      .filter(col("y") * 2 =!= col("med2"))
      .select(col("event_type"), col("day"),
        (col("y") * 2 > col("med2")).as("s"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val nDays = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    signed
      .withColumn("brk",
        when(lag(col("s"), 1).over(wLag).isNull ||
          lag(col("s"), 1).over(wLag) =!= col("s"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(when(col("s"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("s"), 1L).otherwise(0L)).as("n2"),
        sum(col("brk")).as("runs"))
      .join(broadcast(nDays), "event_type")
      .withColumn("n", col("n1") + col("n2"))
      .select(col("event_type"), col("n_days"), col("n1"), col("n2"),
        col("runs"),
        expr("CASE WHEN n1 = 0 OR n2 = 0 OR n < 2 " +
          "OR 2 * n1 * n2 <= n THEN NULL " +
          s"ELSE $RunsZTree END").as("z"))
      .orderBy(col("event_type"))
  }

  /** PRIMARY-KEY AUDIT (round 14) — the uniqueness contract check
    * every warehouse load opens with: per declared entity key,
    * row/key counts, duplicate keys and their excess rows, and
    * NULL-key rows — the three ways a "primary key" silently stops
    * being one (a replayed ingest, a join fan-out, a nullable column
    * promoted to key). Each audit is ONE map-side-combinable groupBy
    * on the key expression (composite keys via the shared `||`
    * string form, identical text on both engines); output is the
    * fixed audit table — a CONSTANT-row relation (EmptyInputSpec
    * configDerived).
    *
    * Output per audit: (entity, n_rows, n_keys, dup_keys, dup_rows,
    * null_rows, is_unique), ordered by entity. */
  def pkAudit(audits: Seq[(String, DataFrame, String)]): DataFrame = {
    val parts = audits.map { case (entity, df, keySql) =>
      df.select(expr(keySql).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(
          coalesce(sum(col("c")), lit(0L)).as("n_rows"),
          count(col("k")).as("n_keys"),
          coalesce(sum(when(col("k").isNotNull && col("c") > 1, 1L)
            .otherwise(0L)), lit(0L)).as("dup_keys"),
          coalesce(sum(when(col("k").isNotNull && col("c") > 1,
            col("c") - 1).otherwise(0L)), lit(0L)).as("dup_rows"),
          coalesce(sum(when(col("k").isNull, col("c")).otherwise(0L)),
            lit(0L)).as("null_rows"))
        .select(lit(entity).as("entity"), col("n_rows"), col("n_keys"),
          col("dup_keys"), col("dup_rows"), col("null_rows"),
          (col("dup_keys") === 0L && col("null_rows") === 0L)
            .as("is_unique"))
    }
    parts.reduce(_ unionAll _).orderBy(col("entity"))
  }

  /** LINEAR GAP INTERPOLATION (round 14) — the imputation leg of the
    * time-series family: the daily revenue series with every calendar
    * gap filled by EXACT linear interpolation between its nearest
    * anchors — what a forecasting or anomaly pipeline runs before any
    * model that assumes a dense grid (the gap-fill doctrine's zeros
    * are right for COUNT series; for a LEVEL series a zero is a fake
    * crash, interpolation is the honest impute). Exactness: the
    * interpolant y0 + (y1−y0)·(d−d0) div (d1−d0) is ONE sign-split
    * integral division per gap day (the slope numerator can be
    * negative; floor-vs-truncate differs across engines). Segments
    * come from one lead() window over the ANCHOR table — unpartitioned
    * but CALENDAR-BOUNDED (the stats_autocorr doctrine: spans days,
    * never rows); the gap→segment range join is grid×anchors, both
    * bounded. Interior gaps only by construction (the grid spans
    * min..max anchor).
    *
    * Output: (day, cents, interpolated), ordered by day. */
  def interpolateDaily(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val daily = orders.groupBy(col("o_orderdate").as("day"))
      .agg(sum(cents).as("y"))
    val w = Window.orderBy(col("day"))
    val seg = daily.select(col("day").as("d0"), col("y").as("y0"),
      lead(col("day"), 1).over(w).as("d1"),
      lead(col("y"), 1).over(w).as("y1"))
      .filter(col("d1").isNotNull)
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val gaps = grid.join(daily, Seq("day"), "left_anti")
    val interp = gaps.join(seg,
        col("day") > col("d0") && col("day") < col("d1"))
      .select(col("day"),
        expr("y0 + (CASE WHEN (y1 - y0) * datediff(day, d0) < 0 " +
          "THEN -(abs((y1 - y0) * datediff(day, d0)) div datediff(d1, d0)) " +
          "ELSE ((y1 - y0) * datediff(day, d0)) div datediff(d1, d0) END)")
          .as("cents"),
        lit(true).as("interpolated"))
    daily.select(col("day"), col("y").as("cents"),
        lit(false).as("interpolated"))
      .unionByName(interp)
      .orderBy(col("day"))
  }

  /** HOUR-OF-DAY PROFILE (round 14) — per event type, the 24-hour
    * activity histogram with exact ppm shares and the peak hour
    * flagged: the capacity-planning companion to [[dispersionIndex]]
    * (WHEN the load arrives, not just how bursty it is) and the input
    * to any "quiet window" maintenance decision. The 0..23 grid is
    * completed per type (a silent hour is a REAL zero row — the gap
    * a release that stops overnight traffic opens is the signal);
    * peak = row_number 1 by (count DESC, hour ASC), deterministic.
    * One full-data aggregation to ≤ types×24 rows, a broadcast totals
    * join, a partitioned rank window.
    *
    * Output: (event_type, hour, n_events, share_ppm, is_peak). */
  def hourlyProfile(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"))
    val grid = events.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(23L))).as("hour"))
    val tot = hourly.groupBy(col("event_type")).agg(sum(col("n")).as("n_total"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n_events").desc, col("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .join(broadcast(tot), "event_type")
      .withColumn("share_ppm",
        expr("CAST((n_events * 1000000) div nullif(n_total, 0L) AS BIGINT)"))
      .withColumn("is_peak", row_number().over(w) === 1)
      .select(col("event_type"), col("hour"), col("n_events"),
        col("share_ppm"), col("is_peak"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** POISSON DISPERSION INDEX (round 14) — per event type over the
    * gap-filled daily count series: variance-to-mean ratio, the
    * overdispersion detector that decides whether a count series is
    * Poisson-like (ratio ≈ 1, independent arrivals — alerting can use
    * Poisson bands) or bursty (ratio ≫ 1 — bots, batch jobs, retry
    * storms; use `event_anomaly_mad` instead). EXACT-RATIONAL: with
    * S = Σx and Q = Σx² over n grid days, var/mean =
    * (n·Q − S²) div ((n−1)·S) in ppm — ONE integral division, Q and
    * the products in DECIMAL(38,0) (squared daily counts overflow
    * int64 at warehouse volume). Gap days are REAL zeros on the
    * calendar grid (the round-13 doctrine — skipping them inflates the
    * mean and masks burstiness). NULL ppm when S = 0 or n < 2.
    *
    * Scale shape: one daily aggregation, a calendar-bounded grid, one
    * per-type fold. Output: (event_type, n_days, sum_events,
    * dispersion_ppm), ordered — dispersion_ppm > 10⁶ reads
    * "overdispersed". */
  def dispersionIndex(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), coalesce(col("y"), lit(0L)).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sum_events"),
        sum(col("y").cast(dec) * col("y")).as("q"))
      .select(col("event_type"), col("n_days"), col("sum_events"),
        expr("CASE WHEN n_days < 2 OR sum_events = 0 THEN NULL ELSE " +
          "CAST(((n_days * q - CAST(sum_events AS DECIMAL(38,0)) * sum_events) " +
          "* 1000000) div ((n_days - 1) * CAST(sum_events AS DECIMAL(38,0))) " +
          "AS BIGINT) END").as("dispersion_ppm"))
      .orderBy(col("event_type"))
  }

  /** EVENT-VALUE DRIFT monitor (round 14) — per week, the TOTAL
    * VARIATION distance between that week's value distribution and the
    * GLOBAL one, completing the drift trio's numeric leg beside
    * [[eventMixDrift]] (categorical mix, χ²) and `quality_len_drift`
    * (per-source lengths, KS): a price change, a currency bug, or a
    * new fee tier moves this number the week it ships. The
    * distribution lives on value-cents BIT-LENGTH buckets (the
    * bounded-grid surrogate — ≤64 buckets at any volume), and TV is
    * EXACT-RATIONAL end to end: TV = ½·Σ|p_w − p_g| becomes
    * Σ|c_wb·N_g − g_b·N_w| · 10⁶ div (2·N_w·N_g) — one integral
    * division, every product in DECIMAL(38,0) (count products are n²
    * — int64 dies at warehouse volume), surfaced as tv_ppm ∈
    * [0, 10⁶]. Buckets the week never hit still contribute their
    * global mass (the week×global-bucket grid is built first, weekly
    * counts left-joined) — skipping them would understate drift
    * exactly when a bucket vanishes, the catastrophic case.
    *
    * Scale shape: one full-data aggregation to the (week, bucket)
    * grid, a ≤64-row broadcast global table, a weeks×buckets
    * grid join — all bounded. Output: (week, n_events, n_buckets,
    * tv_ppm), ordered by week. */
  def eventValueDrift(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val bucketed = events.select(
      date_trunc("week", col("ts")).as("week"),
      length(bin(greatest(cents, lit(1L)))).cast("long").as("b"))
    val wk = bucketed.groupBy(col("week"), col("b"))
      .agg(count(lit(1)).as("c_wb"))
    val glob = bucketed.groupBy(col("b")).agg(count(lit(1)).as("g_b"))
    val totals = bucketed.groupBy(col("week")).agg(count(lit(1)).as("n_w"))
    val nTot = bucketed.agg(count(lit(1)).as("n_g"))
    val grid = totals.crossJoin(broadcast(glob))
    grid.join(wk, Seq("week", "b"), "left")
      .select(col("week"), col("n_w"),
        coalesce(col("c_wb"), lit(0L)).as("c_wb"), col("g_b"))
      .crossJoin(broadcast(nTot))
      .groupBy(col("week"))
      .agg(max(col("n_w")).as("n_events"),
        sum(when(col("c_wb") > 0, 1L).otherwise(0L)).as("n_buckets"),
        sum(abs(col("c_wb").cast(dec) * col("n_g") -
          col("g_b").cast(dec) * col("n_w"))).as("gap"),
        max(col("n_w").cast(dec) * col("n_g")).as("den2"))
      .select(col("week"), col("n_events"), col("n_buckets"),
        expr("CAST((gap * 1000000) div nullif(den2 * 2, 0) AS BIGINT)")
          .as("tv_ppm"))
      .orderBy(col("week"))
  }

  /** KENDALL'S τ-b (round 14) — the rank-correlation triple completed:
    * beside `stats_corr` (Pearson, linear) and `stats_spearman` (rank
    * Pearson), τ-b is the CONCORDANT-PAIR form — the probability a
    * random customer pair orders the same way on both axes — with the
    * tie correction that matters on discrete data. Axes here: per
    * customer, x = bitlen(order count) vs y = bitlen(total spend cents)
    * (the bit-length bucket surrogate, `text_zipf_fit`'s integer-log
    * doctrine — and what BOUNDS the grid: ≤64×64 cells at ANY data
    * volume, where raw values would make the cell-pair relation
    * data-sized). Pair counting is EXACT over the contingency cells:
    * C/D from the strict-order cell-pair sums, tie terms from the
    * marginals, and every pair count DOUBLED (g(g−1), n(n−1), 2C, 2D —
    * the mannwhitney doubled-rank doctrine: no halving division
    * anywhere, and the doubling cancels inside the τ tree) in
    * DECIMAL(38,0) (pair counts are n² — int64 dies at ~10⁹·⁵ rows),
    * surfaced VIA VARCHAR; τ-b itself is the ONE fixed IEEE tree
    * d(2C−2D)/(√d(2n0−2T_x)·√d(2n0−2T_y)) through the via-string
    * bridge, NULL when either axis is fully tied. The cells crossJoin
    * is GRID-bounded (≤64² rows broadcast), never data-bounded.
    *
    * Scale shape: one orders aggregation to O(customers), one
    * customer→cell aggregation, then constant-size arithmetic.
    * Output: ONE row (n_custs, n_pairs_x2, c_pairs_x2, d_pairs_x2,
    * ties_x_x2, ties_y_x2, tau_b). */
  def kendallTau(orders: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast("string").cast("double")
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val cust = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("no"), sum(cents).as("sp"))
      .select(length(bin(col("no"))).cast("long").as("x"),
        length(bin(greatest(col("sp"), lit(1L)))).cast("long").as("y"))
    val cells = cust.groupBy(col("x"), col("y")).agg(count(lit(1)).as("m"))
    val tot = cells.agg(coalesce(sum(col("m")), lit(0L)).as("n"))
    // pair counts are DOUBLED throughout (g(g−1), n(n−1), 2·C, 2·D —
    // the mannwhitney doubled-rank doctrine): no division anywhere, the
    // doubling cancels inside the identical τ tree on both engines
    val margX = cells.groupBy(col("x")).agg(sum(col("m")).as("g"))
      .agg(coalesce(sum(col("g").cast(dec) * (col("g") - 1)),
        lit(0).cast(dec)).as("t_x2"))
    val margY = cells.groupBy(col("y")).agg(sum(col("m")).as("g"))
      .agg(coalesce(sum(col("g").cast(dec) * (col("g") - 1)),
        lit(0).cast(dec)).as("t_y2"))
    val b = cells.select(col("x").as("x2"), col("y").as("y2"),
      col("m").as("m2"))
    val cd = cells.crossJoin(broadcast(b))
      .filter(col("x") < col("x2"))
      .agg(
        coalesce(sum(when(col("y") < col("y2"),
          col("m").cast(dec) * col("m2") * 2)), lit(0).cast(dec))
          .as("c_x2"),
        coalesce(sum(when(col("y") > col("y2"),
          col("m").cast(dec) * col("m2") * 2)), lit(0).cast(dec))
          .as("d_x2"))
    tot.crossJoin(broadcast(margX)).crossJoin(broadcast(margY))
      .crossJoin(broadcast(cd))
      .withColumn("n0_x2", col("n").cast(dec) * (col("n") - 1))
      .select(col("n").as("n_custs"),
        col("n0_x2").cast("string").as("n_pairs_x2"),
        col("c_x2").cast("string").as("c_pairs_x2"),
        col("d_x2").cast("string").as("d_pairs_x2"),
        col("t_x2").cast("string").as("ties_x_x2"),
        col("t_y2").cast("string").as("ties_y_x2"),
        when(col("n0_x2") - col("t_x2") <= 0 ||
          col("n0_x2") - col("t_y2") <= 0, lit(null).cast("double"))
          .otherwise(d(col("c_x2") - col("d_x2")) /
            (sqrt(d(col("n0_x2") - col("t_x2"))) *
              sqrt(d(col("n0_x2") - col("t_y2"))))).as("tau_b"))
  }

  /** CRAMÉR'S V (round 15) — the [0, 1] EFFECT SIZE the raw χ² lacks:
    * χ² grows with n, so "is the dependence big" needs
    * V = sqrt(χ² / (n·(min(r,c)−1))), comparable across table sizes —
    * the statistic an experimentation dashboard prints next to the
    * p-gate. Same contingency front as [[chiSquare]] (type × arm with
    * structural zero cells); χ² folds in SORTED cell order (the
    * stats_chi2 doctrine — double addition is not associative) and the
    * tail is one fixed expression: sqrt is correctly rounded under
    * IEEE 754 so the full tree replays bit-for-bit (the Kendall
    * precedent). Integer degrees come off the bounded grid.
    *
    * Output (one row): n, n_rows, n_cols, chi2, cramers_v. */
  def cramersV(events: DataFrame): DataFrame = {
    val observed = events
      .select(col("event_type"), (col("user_id") % 2).as("arm"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("o"))
    val cells = observed.select(col("event_type")).distinct()
      .crossJoin(observed.select(col("arm")).distinct())
      .join(observed, Seq("event_type", "arm"), "left")
      .select(col("event_type"), col("arm"),
        coalesce(col("o"), lit(0L)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols0 = cells.groupBy(col("arm")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("event_type")).as("n_rows"),
      countDistinct(col("arm")).as("n_cols"))
    val terms = cells
      .join(broadcast(rows), Seq("event_type"))
      .join(broadcast(cols0), Seq("arm"))
      .crossJoin(broadcast(n))
      .withColumn("term",
        ((col("o") * col("n") - col("r") * col("c")).cast("double") *
          (col("o") * col("n") - col("r") * col("c")).cast("double")) /
          (col("r") * col("c") * col("n")).cast("double"))
    terms
      .groupBy(col("n"), col("n_rows"), col("n_cols"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("event_type"), col("arm"),
          col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"))
      .select(col("n"), col("n_rows"), col("n_cols"), col("chi2"),
        when(col("n") === 0L || least(col("n_rows"), col("n_cols")) <= 1L,
          lit(null).cast("double"))
          .otherwise(sqrt(col("chi2") /
            (col("n") * (least(col("n_rows"), col("n_cols")) - 1L))
              .cast("double"))).as("cramers_v"))
  }

  /** HIGHER MOMENTS per event type (round 15) — skewness and excess
    * kurtosis, the distribution-shape scalars between
    * [[dispersionByType]]'s spread and [[ksTest]]'s full-shape test
    * (a revenue distribution that grew a right tail moves skewness
    * long before the mean shifts). All POWER SUMS are exact: cents in
    * DECIMAL(38,0), Σc² likewise, Σc³/Σc⁴ in DECIMAL(38,0) (a 10⁵-cent
    * value to the 4th is 10²⁰; 10¹⁸ rows of those still fit 38
    * digits). The moment COMBINATION runs as one fixed-order double
    * tree over the exact sums via the via-string bridge — an exact
    * DECIMAL expansion of n³·s4 would overflow 38 digits at (n·c)⁴ >
    * 10³⁸, a hidden scale cliff; the double tree has no cliff, and
    * determinism holds because both engines replay the IDENTICAL
    * operation text on identically-rounded inputs. m2^1.5 is
    * m2·sqrt(m2) (sqrt is correctly rounded under IEEE 754 where
    * pow() is not — the no-transcendentals doctrine).
    *
    * Output: (event_type, n, mean_cents_ppm, skewness, ex_kurtosis),
    * ordered. */
  def momentsByType(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val c = (dec2(col("value")) * 100).cast("long")
    def ds(x: Column) = x.cast("string").cast("double")
    val agg = events.filter(col("event_type").isNotNull)
      .select(col("event_type"), c.as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("s1"),
        sum((col("c").cast(dec) * col("c"))).as("s2"),
        sum((col("c").cast(dec) * col("c") * col("c"))).as("s3"),
        sum((col("c").cast(dec) * col("c") * col("c") * col("c"))).as("s4"))
    val nD = col("n").cast("double")
    // n²·m2 = n·s2 − s1²; n³·m3 = n²·s3 − 3n·s1·s2 + 2·s1³;
    // n⁴·m4 = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3·s1⁴
    agg
      .withColumn("m2x", nD * ds(col("s2")) - ds(col("s1")) * ds(col("s1")))
      .withColumn("m3x", nD * nD * ds(col("s3"))
        - lit(3.0) * nD * ds(col("s1")) * ds(col("s2"))
        + lit(2.0) * ds(col("s1")) * ds(col("s1")) * ds(col("s1")))
      .withColumn("m4x", nD * nD * nD * ds(col("s4"))
        - lit(4.0) * nD * nD * ds(col("s1")) * ds(col("s3"))
        + lit(6.0) * nD * ds(col("s1")) * ds(col("s1")) * ds(col("s2"))
        - lit(3.0) * ds(col("s1")) * ds(col("s1")) * ds(col("s1"))
          * ds(col("s1")))
      .select(col("event_type"), col("n"),
        expr("CAST((s1 * 1000000) div nullif(CAST(n AS DECIMAL(38,0)), 0) " +
          "AS BIGINT)").as("mean_cents_ppm"),
        when(col("m2x") <= 0.0, lit(null).cast("double"))
          .otherwise((col("m3x") / nD / nD / nD) /
            ((col("m2x") / nD / nD) * sqrt(col("m2x") / nD / nD)))
          .as("skewness"),
        when(col("m2x") <= 0.0, lit(null).cast("double"))
          .otherwise((col("m4x") / nD / nD / nD / nD) /
            ((col("m2x") / nD / nD) * (col("m2x") / nD / nD)) - 3.0)
          .as("ex_kurtosis"))
      .orderBy(col("event_type"))
  }

  /** REORDER RATE per brand (round 15) — the repeat-purchase signal a
    * merchandising review reads next to [[abcClassification]]: of the
    * (customer, part) pairs that ever bought a brand, what share
    * bought it in MORE THAN ONE distinct order? Exact integers end to
    * end: distinct order counts per (customer, part) off one orders ⋈
    * lineitem equi-join (orderkey), the pair relation aggregated once,
    * rate in ppm. The brand attach is a broadcast part-dim join.
    *
    * Output: (p_brand, n_pairs, n_reordered, reorder_ppm), ordered. */
  def reorderRate(orders: DataFrame, lineitem: DataFrame,
                  part: DataFrame): DataFrame = {
    val pairs = lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    pairs
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("n_orders") > 1L, 1L).otherwise(0L)).as("n_reordered"))
      .select(col("p_brand"), col("n_pairs"), col("n_reordered"),
        expr("(n_reordered * 1000000) div nullif(n_pairs, 0L)")
          .as("reorder_ppm"))
      .orderBy(col("p_brand"))
  }

  /** ORDER-PRIORITY MIX per month (round 15) — the order-intake
    * composition monitor ([[orderSeasonality]]'s categorical sibling):
    * per calendar month, the count and ppm share of each
    * o_orderpriority — the drift a fulfillment planner watches (a
    * rising URGENT share re-sizes the expedite lane). One bounded
    * month × priority aggregation + a per-month total attach; exact
    * integers throughout.
    *
    * Output: (month, o_orderpriority, n_orders, share_ppm), ordered. */
  def priorityMix(orders: DataFrame): DataFrame = {
    // month stays TIMESTAMP (the order_monthly_growth precedent:
    // parity reads timestamps as datetime64 on both engines; a DATE
    // surfaces as python objects on the DuckDB side)
    val m = date_trunc("month", col("o_orderdate"))
    val cnt = orders.select(m.as("month"), col("o_orderpriority"))
      .groupBy(col("month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    val tot = cnt.groupBy(col("month")).agg(sum(col("n_orders")).as("t"))
    cnt.join(broadcast(tot), "month")
      .select(col("month"), col("o_orderpriority"), col("n_orders"),
        expr("(n_orders * 1000000) div nullif(t, 0L)").as("share_ppm"))
      .orderBy(col("month"), col("o_orderpriority"))
  }

  /** EVENT-TYPE DIVERSITY histogram (round 15) — how many (user, day)
    * sessions touch 1, 2, …, k distinct event types: the
    * engagement-breadth readout between [[dauMau]]'s intensity and the
    * funnel's ordered depth (a product where every active day fires
    * one event type has a discovery problem no volume metric shows).
    * DAY grain, not lifetime: over a long window every user
    * trivially reaches the full type domain and the histogram
    * collapses to one bucket — the degenerate fixture the round-13
    * non-vacuity rule exists to catch. Two map-side-combinable
    * aggregations; the histogram is bounded by the type-domain size.
    * NULL types are excluded (not a behavior).
    *
    * Output: (n_types, n_user_days, share_ppm), ordered. */
  def typeDiversityHist(events: DataFrame): DataFrame = {
    val perUserDay = events.filter(col("event_type").isNotNull)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("event_type")).as("n_types"))
    val hist = perUserDay.groupBy(col("n_types"))
      .agg(count(lit(1)).as("n_user_days"))
    val tot = hist.agg(sum(col("n_user_days")).as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("n_types"), col("n_user_days"),
        expr("(n_user_days * 1000000) div nullif(t, 0L)").as("share_ppm"))
      .orderBy(col("n_types"))
  }

  /** COHEN'S d per event type (round 15) — the standardized
    * arm-difference effect size next to [[abTestWelch]]'s t (a
    * significant t with a negligible d is the classic
    * big-sample-tiny-effect read): d = (mean₁ − mean₀) / s_pooled with
    * the pooled variance from EXACT integer moment sums (n, Σc, Σc²
    * per arm in one conditional-aggregation pass — the Welch front),
    * the statistic one fixed-order double tree via the string bridge;
    * sqrt only (correctly rounded). NULL when either arm has < 2
    * observations or the pooled variance is 0.
    *
    * Output: (event_type, n0, n1, cohens_d), ordered. */
  def cohensD(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val c = (dec2(col("value")) * 100).cast("long")
    def ds(x: Column) = x.cast("string").cast("double")
    val arm = (col("user_id") % 2).cast("int")
    val agg = events.filter(col("event_type").isNotNull)
      .select(col("event_type"), arm.as("arm"), c.as("c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        coalesce(sum(when(col("arm") === 0, col("c").cast(dec))),
          lit(0).cast(dec)).as("s0"),
        coalesce(sum(when(col("arm") === 0, col("c").cast(dec) * col("c"))),
          lit(0).cast(dec)).as("q0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        coalesce(sum(when(col("arm") === 1, col("c").cast(dec))),
          lit(0).cast(dec)).as("s1"),
        coalesce(sum(when(col("arm") === 1, col("c").cast(dec) * col("c"))),
          lit(0).cast(dec)).as("q1"))
    // sp² = ((q0 − s0²/n0) + (q1 − s1²/n1)) / (n0 + n1 − 2), all via
    // the bridge in ONE fixed operand order shared with the oracle
    val sp2 = ((ds(col("q0")) - ds(col("s0")) * ds(col("s0")) / ds(col("n0")))
      + (ds(col("q1")) - ds(col("s1")) * ds(col("s1")) / ds(col("n1")))) /
      (ds(col("n0")) + ds(col("n1")) - 2.0)
    agg.select(col("event_type"), col("n0"), col("n1"),
        when(col("n0") < 2L || col("n1") < 2L, lit(null).cast("double"))
          .otherwise(when(sp2 <= 0.0, lit(null).cast("double"))
            .otherwise((ds(col("s1")) / ds(col("n1")) -
              ds(col("s0")) / ds(col("n0"))) / sqrt(sp2))).as("cohens_d"))
      .orderBy(col("event_type"))
  }

  /** EXACT TRIMMED MEAN per type (round 15) — the robust location
    * estimate between the mean (outlier-dragged) and the median
    * ([[madOutliers]]' reservoir): drop the k = n div 10 lowest and
    * highest observations and average the rest, computed EXACTLY from
    * the value-grouped order statistics (the mannwhitney/KS front):
    * per distinct cent value its multiplicity and cumulative rank,
    * each group's clipped contribution `m − clip_low − clip_high`
    * where clip_low = max(0, min(m, k − ranks_below)) (and mirrored
    * above) — no row-level sort; ranks_below comes from
    * [[RankGrid.below]]. Integer sums in DECIMAL; ONE exact div tail. NULL
    * when n − 2k = 0.
    *
    * Output: (event_type, n, k_trim, trimmed_n, trimmed_mean_ppm),
    * ordered. */
  def trimmedMean(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val c = (dec2(col("value")) * 100).cast("long")
    val g = events.filter(col("event_type").isNotNull)
      .select(col("event_type"), c.as("c"))
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("m"))
    val tot = g.groupBy(col("event_type")).agg(sum(col("m")).as("n"))
    RankGrid.below(g, Seq("event_type"), "c", Seq("m"))
      .join(broadcast(tot), "event_type")
      .withColumn("k", expr("n div 10"))
      .withColumn("clip_lo",
        greatest(lit(0L), least(col("m"), col("k") - col("m_lt"))))
      .withColumn("clip_hi", greatest(lit(0L),
        least(col("m"), col("k") - (col("n") - col("m_lt") - col("m")))))
      .groupBy(col("event_type"), col("n"), col("k"))
      .agg(sum((col("c").cast(dec)) *
        (col("m") - col("clip_lo") - col("clip_hi"))).as("tsum"))
      .select(col("event_type"), col("n"), col("k").as("k_trim"),
        (col("n") - col("k") * 2).as("trimmed_n"),
        expr("CAST((tsum * 1000000) div " +
          "nullif(CAST(n - 2 * k AS DECIMAL(38,0)), 0) AS BIGINT)")
          .as("trimmed_mean_ppm"))
      .orderBy(col("event_type"))
  }

  /** NUMERIC BAND JOIN (round 15) — the |x_a − x_b| ≤ δ pairing
    * between two event populations ([[Sessionize.intervalOverlap]]'s
    * 1-D value sibling): clicks meet purchases whose cent values land
    * within `deltaCents`. NEVER an inequality join (a naive |a−b| ≤ δ
    * predicate plans a nested loop): values bucket into δ-width grid
    * cells, the probe side replicates to its cell ± 1 (any in-band
    * partner is in one of those three cells — the interval-overlap
    * grid doctrine), the join is EQUI on the cell, and the exact band
    * filter runs as a residual. Each true pair matches EXACTLY once
    * (the three probe cells are distinct). Output is the per-band
    * pair-count profile — bounded by the value grid.
    *
    * Output: (band_lo_cents, n_pairs), ordered. */
  def bandJoin(events: DataFrame, typeA: String = "click",
               typeB: String = "purchase",
               deltaCents: Long = 50L): DataFrame = {
    require(deltaCents > 0, s"deltaCents must be positive: $deltaCents")
    val c = (dec2(col("value")) * 100).cast("long")
    val a = events.filter(col("event_type") === typeA)
      .select(col("event_id").as("a_id"), c.as("ca"))
      .withColumn("cell", expr(s"ca div $deltaCents"))
    val b = events.filter(col("event_type") === typeB)
      .select(col("event_id").as("b_id"), c.as("cb"))
      .withColumn("cell",
        explode(array(expr(s"cb div $deltaCents - 1"),
          expr(s"cb div $deltaCents"), expr(s"cb div $deltaCents + 1"))))
    a.join(b, "cell")
      .filter(abs(col("ca") - col("cb")) <= deltaCents)
      .groupBy((col("cell") * deltaCents).as("band_lo_cents"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("band_lo_cents"))
  }

  /** EXACT-DUPLICATE RATE per source (round 15) — the per-shard
    * duplication scorecard `dedup_exact` (global winners) and
    * `dedup_rate_report` (near-dup funnel) bracket but never print:
    * per ingest source, how many docs, how many DISTINCT texts, and
    * the redundant share in ppm — the first number a crawl-feed
    * review asks for, and the one that decides whether a shard even
    * enters the expensive near-dup pass. One (source, hash) aggregate
    * then a per-source rollup — map-side combinable, exact integers.
    *
    * Output: (source, n_docs, n_distinct, n_redundant, dup_ppm),
    * ordered. */
  def dupRateBySource(docs: DataFrame): DataFrame = {
    val perText = docs
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("m"))
    perText.groupBy(col("source"))
      .agg(sum(col("m")).as("n_docs"), count(lit(1)).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_redundant"),
        expr("((n_docs - n_distinct) * 1000000) div nullif(n_docs, 0L)")
          .as("dup_ppm"))
      .orderBy(col("source"))
  }
}
