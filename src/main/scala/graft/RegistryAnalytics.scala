package graft

import graft.operators._
import graft.config.ExportConfig
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Registry: Group B analytics extensions (aggregation, joins, windows,
  * stats, events, graph) plus event-time windowing — extracted verbatim
  * from SparkEntry (round 12 split). */
private[graft] trait RegistryAnalytics { this: SparkEntry.type =>

  protected def analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Group B: analytics extensions ----------------------------------

    // B6 agg_rollup: TPC-H Q1 pricing summary (decimal-exact sums).
    "agg_rollup" -> ((s, d) =>
      Relational.pricingSummary(Tables.lineitem(s, d))),

    // Decimal-exact grouped Pearson correlation (order-insensitive).
    "stats_corr" -> ((s, d) =>
      Relational.groupedCorrelation(Tables.lineitem(s, d))),

    // Table profile (round 11): per-column rows/nulls/exact-distinct/
    // min/max over seven columns in ONE scan — the multi-distinct
    // plans via Expand with partial aggregation, never a scan per
    // column (plan-asserted).
    "stats_profile" -> ((s, d) =>
      Relational.profileTable(Tables.lineitem(s, d))),

    // B6b agg_rollup_sets: ROLLUP grouping sets (subtotals + grand total).
    "agg_rollup_sets" -> ((s, d) =>
      Relational.pricingRollup(Tables.lineitem(s, d))),

    // CUBE grouping sets (round 7): all four groupings in one pass,
    // Expand over the pre-aggregated rows like agg_rollup_sets.
    "agg_cube" -> ((s, d) =>
      Relational.pricingCube(Tables.lineitem(s, d))),

    // LEFT SEMI + LEFT ANTI joins (round 7): EXISTS / NOT EXISTS shapes,
    // no row multiplication through either branch.
    "join_semi_anti" -> ((s, d) =>
      Relational.semiAntiJoin(Tables.customer(s, d), Tables.orders(s, d))),

    // Bucketed fact-to-fact join (round 8): write both facts bucketed on
    // the order key, join the bucketed tables — zero Exchange in the join
    // (PlanInvariantsSpec), output ≡ the plain parquet join (the oracle).
    // The bucketed WRITE is inside the timed query: the bench measures
    // the full pay-shuffle-at-write-time trade.
    // Bucketed layout under schema evolution (round 16): per-generation
    // bucketed tables, join-then-union keeps both branches
    // exchange-free, gen-1 NULL back-fill surfaced as a sentinel (see
    // bucketedEvolutionJoin's scaladoc).
    "sink_bucketed_evolution" -> ((s, d) =>
      Relational.bucketedEvolutionJoin(Tables.orders(s, d),
        Tables.lineitem(s, d))),

    "join_bucketed" -> ((s, d) =>
      Relational.bucketedJoin(Tables.orders(s, d), Tables.lineitem(s, d))
        .orderBy(col("orderkey"), col("linenumber"))),

    // B7 join_enrich: orders ⋈ customer ⋈ nation ⋈ region, dims broadcast.
    // (oracle sqlEnrichOrders below is shared with stream_enrich_parity)
    "join_enrich" -> ((s, d) =>
      Relational.enrichOrders(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))),

    // STREAM-STREAM-join parity (round 12): click/purchase legs
    // replayed as two mtime-pinned file streams through the
    // watermarked interval join — two-sided state under the oracle
    // (see intervalParityReplay's scaladoc).
    "stream_join_parity" -> ((s, d) => {
      val base = queryDir("stream_join")
      graft.streaming.StreamingJoin.intervalParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // STREAM-STATIC-join parity (round 12): orders replayed as a
    // multi-micro-batch file stream through ONE StreamingEnrich.enrich
    // call per batch against the pre-joined dim snapshot, under
    // join_enrich's own oracle (see enrichParityReplay's scaladoc).
    "stream_enrich_parity" -> ((s, d) => {
      val base = queryDir("stream_enrich")
      graft.streaming.StreamingEnrich.enrichParityReplay(
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d),
        Tables.region(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // B1 dedup_exact: deterministic exact dedup of documents on text.
    "dedup_exact" -> ((s, d) =>
      Relational.dedupExact(Tables.documents(s, d), Seq("text"), "doc_id")
        .orderBy(col("doc_id"))),

    // STREAMING-dedup parity (round 12): the documents corpus replayed
    // as a multi-micro-batch file stream through the dropDuplicates
    // state store, under a distinct-key oracle whose every column is a
    // function of the key (see exactParityReplay's scaladoc for the
    // arrival-order reasoning).
    "stream_dedup_parity" -> ((s, d) => {
      val base = queryDir("stream_dedup")
      graft.streaming.StreamingDedup.exactParityReplay(
        Tables.documents(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // STREAMING CDC parity (round 14): the versioned change feed folded
    // through flatMapGroupsWithState latest-wins state — max-merge, so
    // any micro-batch slicing converges; final state per key from its
    // largest committed batch (see cdcParityReplay's scaladoc).
    "stream_cdc_parity" -> ((s, d) => {
      val base = queryDir("stream_cdc")
      graft.streaming.StreamingCdc.cdcParityReplay(
        Tables.orders(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // CDC upsert: apply a deterministic change set (price bumps on keys
    // divisible by 7, inserts re-keyed +1e9 for keys divisible by 97)
    // onto the orders snapshot, latest-wins. The insert offset must
    // clear the real key space at ANY plausible SF (TPC-H orderkey max
    // = 6M·SF, so 1e9 is safe past SF 150; a 10M offset would collide
    // from SF≈1.7, silently turning inserts into destructive updates).
    "cdc_upsert" -> ((s, d) => {
      val base = Tables.orders(s, d)
      val updates = base.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      val inserts = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      Relational.upsert(base, updates.unionByName(inserts), "o_orderkey")
    }),

    // TPC-H Q3 shape: filter-pushdown + broadcast dim + fact join + top-k.
    "q3_shipping_priority" -> ((s, d) =>
      Relational.shippingPriority(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d))),

    // TPC-H Q5 shape: six-table star join, all dims broadcast.
    // TPC-H Q10 shape (round 9): returned-items revenue per customer,
    // one quarter, top 20 — facts filtered before the join, nation
    // pinned broadcast, TakeOrdered.
    "q10_returned_items" -> ((s, d) =>
      Relational.returnedItemsRevenue(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),

    // TPC-H Q6 (round 11): the pure-scan pushdown grader — all three
    // predicates reach the parquet reader, 4-column projection,
    // decimal-exact revenue.
    "q6_forecast_revenue" -> ((s, d) =>
      Relational.q6ForecastRevenue(Tables.lineitem(s, d))),

    // TPC-H Q18 shape (round 12): HAVING-filtered lineitem aggregate
    // broadcast into orders/customer — aggregate-before-join ordering
    // (see topBuyers' scaladoc).
    "q18_top_buyers" -> ((s, d) =>
      Relational.topBuyers(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d))),

    "q5_local_supplier" -> ((s, d) =>
      Relational.localSupplierVolume(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d))),

    // PII scrub: redact emails / digit runs / hex ids.
    "text_pii_scrub" -> ((s, d) =>
      TextAnalysis.piiScrub(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // HTML boilerplate strip (round 13): tags out + entity decode in
    // the one correct order, exact-recovery contract (see
    // htmlStripRoundTrip's scaladoc).
    "text_html_strip" -> ((s, d) =>
      TextAnalysis.htmlStripRoundTrip(Tables.documents(s, d))),

    // PII exposure report (round 13): per-source match counts along
    // the scrub's cascade + flagged-doc ppm (see piiReport's scaladoc).
    "text_pii_report" -> ((s, d) =>
      TextAnalysis.piiReport(Tables.documents(s, d))),

    // As-of join: latest same-user click at-or-before each purchase
    // (sort-merge composition — Spark has no native as-of join).
    "join_asof" -> ((s, d) =>
      Relational.asofJoin(Tables.events(s, d))),

    // FORWARD as-of (round 13): first same-user match at-or-after —
    // the label-lookahead / time-to-next-touch direction (see
    // asofJoinForward's scaladoc).
    "join_asof_forward" -> ((s, d) =>
      Relational.asofJoinForward(Tables.events(s, d))),

    // As-of with tolerance (round 11): the feature-store max-age gate —
    // too-stale matches NULL like no-match, rows stay structural.
    "join_asof_tolerance" -> ((s, d) =>
      Relational.asofJoinTolerance(Tables.events(s, d))),

    // Nearest as-of (round 11): closest match EITHER direction (pandas
    // direction='nearest') — two carries over one per-user sort,
    // backward tie-break.
    "join_asof_nearest" -> ((s, d) =>
      Relational.asofNearest(Tables.events(s, d))),

    // Range (interval) join: purchases inside any error's 10-minute
    // window, via time-bucketing (equi-join on bucket + exact filter —
    // not the BNLJ a naive inequality join would plan).
    "join_range" -> ((s, d) =>
      Relational.rangeJoin(Tables.events(s, d))),

    // Interval-OVERLAP join (round 11): error windows × purchase
    // windows via grid-cell equi-join (bounded explode), pair kept
    // only in its overlap-start cell — exactly-once without DISTINCT.
    "join_interval_overlap" -> ((s, d) =>
      Relational.intervalOverlapJoin(Tables.events(s, d))),

    // Pivot: per-user event-type count matrix, explicit value list.
    "pivot_counts" -> ((s, d) =>
      Relational.pivotCounts(Tables.events(s, d))),

    // Unpivot/melt (round 11): wide→long via native Expand (one narrow
    // pass, no shuffle before the bounded groupBy), decimal-exact sums.
    "agg_unpivot" -> ((s, d) =>
      Relational.unpivotMeasures(Tables.lineitem(s, d))),

    // Per-type z-score outlier flagging (round 8): exact-decimal stats
    // via the stats_corr string bridge, broadcast back, |z| > 3.
    "event_anomaly" -> ((s, d) =>
      Relational.valueAnomalies(Tables.events(s, d))),

    // MAD outliers (round 11): the robust sibling — reservoir medians
    // (value, then absolute deviation), pure-integer 3*1.4826 flag.
    "event_anomaly_mad" -> ((s, d) =>
      Relational.madOutliers(Tables.events(s, d))),

    // Chi-square independence (round 11): exact contingency counts,
    // per-cell integer-derived terms, ORDERED fold for the statistic.
    "stats_chi2" -> ((s, d) =>
      Relational.chiSquare(Tables.events(s, d))),

    // Cramér's V (round 15): the [0,1] effect size over the same
    // type × arm contingency — sorted-fold χ², one sqrt tail (see
    // cramersV's scaladoc).
    "stats_cramers_v" -> ((s, d) =>
      Relational.cramersV(Tables.events(s, d))),

    // Higher moments (round 15): skewness + excess kurtosis per type
    // from exact decimal power sums, fixed-order double combination
    // (see momentsByType's scaladoc).
    "stats_moments" -> ((s, d) =>
      Relational.momentsByType(Tables.events(s, d))),

    // Cohen's d (round 15): standardized arm effect size from exact
    // moment sums (see cohensD's scaladoc).
    "stats_cohens_d" -> ((s, d) =>
      Relational.cohensD(Tables.events(s, d))),

    // Exact trimmed mean (round 15): k = n div 10 off each tail via
    // value-grouped order statistics (see trimmedMean's scaladoc).
    "stats_trimmed_mean" -> ((s, d) =>
      Relational.trimmedMean(Tables.events(s, d))),

    // Numeric band join (round 15): grid-cell equi pairing, never a
    // nested loop (see bandJoin's scaladoc).
    "join_band" -> ((s, d) =>
      Relational.bandJoin(Tables.events(s, d))),

    // Reorder rate (round 15): share of (customer, part) pairs with
    // >1 distinct order, per brand (see reorderRate's scaladoc).
    "order_reorder_rate" -> ((s, d) =>
      Relational.reorderRate(Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.part(s, d))),

    // Priority mix per month (round 15): order-intake composition +
    // ppm shares (see priorityMix's scaladoc).
    "order_priority_mix" -> ((s, d) =>
      Relational.priorityMix(Tables.orders(s, d))),

    // Type-diversity histogram (round 15): users by distinct-event-type
    // count (see typeDiversityHist's scaladoc).
    "event_type_diversity" -> ((s, d) =>
      Relational.typeDiversityHist(Tables.events(s, d))),

    // Exact-duplicate rate per source (round 15): docs vs distinct
    // texts per shard, redundancy in ppm (see dupRateBySource's
    // scaladoc).
    "quality_dup_rate" -> ((s, d) =>
      Relational.dupRateBySource(Tables.documents(s, d))),

    // Adamic–Adar link scores (round 15): degree-discounted common
    // neighbors in the exact bit-length form, off the shared triangle
    // memo (see adamicAdar's scaladoc).
    "graph_adamic_adar" -> ((s, d) =>
      Graph.adamicAdar(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        tri0 = Some(trianglesShared(s, d)))),

    // Rich-club coefficients (round 15): φ over the octave degree grid
    // off the shared edge memo (see richClub's scaladoc).
    "graph_rich_club" -> ((s, d) =>
      Graph.richClub(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Eccentricity at horizon (round 16): per-seed longest shortest
    // path within the round cap — the diameter-side companion of
    // graph_closeness off the same seed BFS (see
    // eccentricityFromSeeds' scaladoc).
    "graph_ecc_seeds" -> ((s, d) =>
      Graph.eccentricityFromSeeds(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Resource-allocation link scores (round 16): 1/deg common-neighbor
    // weights — AA's exact-rational sibling, off the shared triangle
    // memo (see resourceAllocation's scaladoc).
    "graph_resource_alloc" -> ((s, d) =>
      Graph.resourceAllocation(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        tri0 = Some(trianglesShared(s, d)))),

    // Global transitivity (round 16): 3·triangles/wedges off both
    // shared memos — the hub-weighted closure ratio beside the local
    // coefficient (see transitivity's scaladoc).
    "graph_transitivity" -> ((s, d) =>
      Graph.transitivity(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        tri0 = Some(trianglesShared(s, d)))),

    // Mood's median test (round 16): k-group above/≤-grand-median
    // table under the chi² doctrine (see moodMedian's scaladoc).
    "stats_mood_median" -> ((s, d) =>
      Relational.moodMedian(Tables.lineitem(s, d))),

    // Harmonic centrality at horizon (round 16): Σ lcm/d off the same
    // seed BFS as closeness/ecc — exact, disconnection-proof (see
    // harmonicFromSeeds' scaladoc).
    "graph_harmonic_seeds" -> ((s, d) =>
      Graph.harmonicFromSeeds(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Katz centrality β=1/2 horizon 4 (round 16): bit-shift geometric
    // decay over exact walk counts (see katzWalks' scaladoc).
    "graph_katz" -> ((s, d) =>
      Graph.katzWalks(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // A/B Welch's t (round 11): deterministic parity arms, exact integer
    // moment sums in one conditional-aggregation pass, identical IEEE
    // operation tree for the statistic.
    "event_ab_test" -> ((s, d) =>
      Relational.abTestWelch(Tables.events(s, d))),

    // OLS regression (round 11): price-on-quantity per flag from exact
    // integer moments, identical slope/intercept operation tree.
    "stats_regression" -> ((s, d) =>
      Relational.olsByFlag(Tables.lineitem(s, d))),

    // Conversion lag (round 11): signup→first-purchase latency —
    // unconverted users counted, md5-reservoir percentiles.
    "event_conversion_lag" -> ((s, d) =>
      Relational.conversionLag(Tables.events(s, d))),

    // Linear trend forecast (round 12): exact re-centered OLS over the
    // per-type daily series, sign-split rational slope + next-day
    // forecast (see linearForecast's scaladoc).
    "event_forecast_linear" -> ((s, d) =>
      Relational.linearForecast(Tables.events(s, d))),

    // Per-group mode (round 11): most frequent quantity per flag,
    // smaller-value tie-break, exact counts.
    "agg_mode" -> ((s, d) =>
      Relational.modeByFlag(Tables.lineitem(s, d))),

    // Power-user concentration (round 11): top-100 users' event share —
    // the skew headline that sizes salting strategy.
    "event_power_users" -> ((s, d) =>
      Relational.powerUserShare(Tables.events(s, d))),

    // Norm histogram (round 11): the embedding-collapse diagnostic —
    // exact integer squared-norm equi-width bins.
    // Per-dimension embedding audit (round 12): dead/collapsed-dim
    // detector, exact variance numerators (see dimStats' scaladoc).
    "embed_dim_stats" -> ((s, d) =>
      Similarity.dimStats(Tables.embeddings(s, d))),

    "embed_norm_hist" -> ((s, d) =>
      Similarity.normHistogram(Tables.embeddings(s, d))),

    // Top eigenvector (round 11): 2 unrolled power-iteration steps over
    // the exact integer Gram matrix — directional-collapse/anisotropy
    // diagnostic; Rayleigh quotient in decimal-exact arithmetic.
    "embed_top_eigvec" -> ((s, d) =>
      Similarity.topEigvec(Tables.embeddings(s, d))),

    // Sign-bit balance (round 16): per-dimension pos/neg/zero census —
    // the informativeness audit under sign-LSH (see signBalance's
    // scaladoc).
    "embed_sign_balance" -> ((s, d) =>
      Similarity.signBalance(Tables.embeddings(s, d))),

    // Isotropy profile (round 16): λ₁/trace spectral-collapse share —
    // exact trace, one IEEE division past the eigvec Rayleigh (see
    // isotropyProfile's scaladoc).
    "embed_isotropy" -> ((s, d) =>
      Similarity.isotropyProfile(Tables.embeddings(s, d))),

    // JL random projection audit (round 11): 16 deterministic integer
    // hyperplanes, per-vector norm-preservation ratio.
    "embed_random_projection" -> ((s, d) =>
      Similarity.randomProjectionAudit(Tables.embeddings(s, d))),

    // Markov transition matrix (round 11): per-user lag pairs, <=
    // types^2 matrix, one IEEE division per row for the conditional.
    "event_markov" -> ((s, d) =>
      Relational.markovTransitions(Tables.events(s, d))),

    // Top converting paths (round 11): ordered last-3-step sequences
    // before each purchase — one per-user sort feeds all lags.
    "event_path_topk" -> ((s, d) =>
      Relational.convertingPaths(Tables.events(s, d))),

    // DAU/MAU stickiness (round 11): exact distinct actives, shuffle
    // O(actives) never O(events), two fixed-order divisions.
    // CUSUM drift detector (round 13): max(0, S + x − mean) folded
    // over the gap-filled day grid, alarm at 5x mean (see eventCusum's
    // scaladoc).
    "event_cusum" -> ((s, d) =>
      Relational.eventCusum(Tables.events(s, d))),

    // Inter-arrival histogram (round 13): per-user gap distribution,
    // log2 bit-length buckets — the burstiness fingerprint (see
    // interarrivalHist's scaladoc).
    "event_interarrival_hist" -> ((s, d) =>
      Relational.interarrivalHist(Tables.events(s, d))),

    // New-vs-returning split (round 13): acquisition or retention —
    // first-day-ever join over distinct (day, user) pairs (see
    // newVsReturning's scaladoc).
    "event_new_returning" -> ((s, d) =>
      Relational.newVsReturning(Tables.events(s, d))),

    "event_dau_mau" -> ((s, d) =>
      Relational.dauMau(Tables.events(s, d))),

    // Event-mix drift (round 13): per-week chi2 vs the global type
    // mix — the categorical drift monitor (see eventMixDrift's
    // scaladoc).
    "event_mix_drift" -> ((s, d) =>
      Relational.eventMixDrift(Tables.events(s, d))),

    // SRM gate (round 13): did the 50/50 assignment actually land
    // 50/50 over users — the first check of any A/B readout (see
    // srmCheck's scaladoc).
    "event_srm_check" -> ((s, d) =>
      Relational.srmCheck(Tables.events(s, d))),

    // Weekly churn flow (round 13): retained/churned out of LAST
    // week's actives, calendar-adjacent weeks only (see weeklyChurn's
    // scaladoc).
    "event_churn" -> ((s, d) =>
      Relational.weeklyChurn(Tables.events(s, d))),

    // Activity heatmap (round 11): ISO dow × hour cells (the portable
    // weekday()+1 ≡ isodow pair), exact events + distinct actives.
    "event_heatmap" -> ((s, d) =>
      Relational.activityHeatmap(Tables.events(s, d))),

    // Activity streaks (round 11): gaps-and-islands via day −
    // row_number, per-user longest, bounded histogram.
    "event_streaks" -> ((s, d) =>
      Relational.activityStreaks(Tables.events(s, d))),

    // TF-IDF keywords (round 11): bit-length idf surrogate (stopwords
    // self-suppress at df=N), per-doc top-3, vocab-keyed df join.
    "text_tfidf_keywords" -> ((s, d) =>
      Corpus.tfidfKeywords(Tables.documents(s, d))),

    // Token-budget prefix cut (round 11): "train on exactly N tokens" —
    // deterministic md5-order per-shard prefix under a running-total
    // budget; whole documents only.
    "corpus_token_budget" -> ((s, d) =>
      Corpus.tokenBudgetPrefix(Tables.documents(s, d))),

    // Training-shard plan (round 15): sequential-fill sharding per
    // source — shard = running total BEFORE the doc div budget (see
    // shardPlan's scaladoc).
    "corpus_shard_plan" -> ((s, d) =>
      Corpus.shardPlan(Tables.documents(s, d))),

    // Vocab coverage (round 11): per-source occurrence coverage of the
    // global top-32 vocab + OOV type counts — the tokenizer card's
    // first table.
    "tokenizer_vocab_coverage" -> ((s, d) =>
      Corpus.vocabCoverage(Tables.documents(s, d))),

    // Quarantine decode: bad wire rows are FLAGGED, not silently dropped
    // (upgrading the reference's drop-and-continue, SURVEY.md §4.4.3).
    "row_quarantine" -> ((s, d) => {
      // PERMISSIVE from_json + corrupt-record column: malformed wire rows
      // surface with the raw text captured, never silently dropped.
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType)))
      val parsed = from_json(col("raw"), schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt"))
      Tables.events(s, d)
        .withColumn("raw",
          when(pmod(col("event_id"), lit(7)) === 0,
            concat(lit("{bad"), col("props"))).otherwise(col("props")))
        // select the parsed struct ONCE, then project both fields from it
        // — guarantees single from_json evaluation per row instead of
        // relying on common-subexpression elimination to merge the two
        .withColumn("p", parsed)
        .select(col("event_id"), col("raw"),
          col("p").getField("k").as("k"),
          col("p").getField("_corrupt").isNotNull.as("quarantined"))
        .orderBy(col("event_id"))
    }),

    // NTILE quartile bands per return flag (round 11): partitioned
    // window + total ordering via the primary key — deterministic band
    // membership, decimal-exact band sums.
    "window_ntile" -> ((s, d) =>
      Relational.priceNtiles(Tables.lineitem(s, d))),

    // percent_rank/cume_dist standings (round 11): the window runs over
    // the AGGREGATED cell relation (bounded), never the raw rows.
    "window_cume" -> ((s, d) =>
      Relational.cumeStandings(Tables.lineitem(s, d))),

    // Trailing RANGE frame (round 11): value-range 30-day window per
    // customer — the frame kind ROWS BETWEEN can't express.
    "window_range_sum" -> ((s, d) =>
      Relational.trailingRangeSum(Tables.orders(s, d))),

    // Windowed top-k per group: top-3 users by exact total value per type.
    "window_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val totals = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value").cast(DecimalType(12, 2))).as("tot"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("tot").desc, col("user_id"))
      totals.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("user_id"),
          col("tot").cast("double").as("total_value"))
        .orderBy(col("event_type"), col("rk"))
    }),

    // Sliding-frame window: 5-row moving average of value per user.
    // The frame is tiny and totally ordered ((ts, event_id) — ties
    // broken), so both engines sum the same ≤5 doubles in the same
    // order: bit-identical without any decimal bridge.
    "window_moving_avg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      // decimal bridge: a windowed AVG over doubles need not associate
      // the frame's values in the same order across engines (DuckDB's
      // segment-tree combining vs Spark's sequential frame) — sum exact
      // in decimal, divide once in double, order-independent on both
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          (sum(col("value").cast("decimal(12,2)")).over(w).cast("double") /
            count(col("value")).over(w)).as("mov_avg"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // Truncated integer EWMA over the per-type daily cents series
    // (round 12, see dailyEwma's scaladoc).
    "window_ewma" -> ((s, d) =>
      Relational.dailyEwma(Tables.events(s, d))),

    // Per-user event adjacency: previous/next event and the exact-µs gap
    // since the last one — the session-gap primitive as a window query.
    "window_lag_lead" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"),
          lead(col("event_id"), 1).over(w).as("next_event_id"),
          (unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // Rank-function family (round 13): rank / dense_rank /
    // percent_rank over a TIES-BEARING order (exact cents DESC — peers
    // are equal values, so gaps vs no-gaps vs the (r−1)/(n−1) quantile
    // are all exercised and deterministic), row_number over the fully
    // tie-broken order (a row_number over the ties order would be
    // arrival-order-nondeterministic — the trap this key pins).
    "window_ranks" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = (col("value").cast("decimal(12,2)") * 100).cast("long")
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), c.as("c"))
      val wt = Window.partitionBy(col("user_id")).orderBy(col("c").desc)
      val wf = Window.partitionBy(col("user_id"))
        .orderBy(col("c").desc, col("event_id"))
      base.select(col("user_id"), col("event_id"), col("c"),
          rank().over(wt).cast("long").as("rnk"),
          dense_rank().over(wt).cast("long").as("drnk"),
          percent_rank().over(wt).as("prnk"),
          row_number().over(wf).cast("long").as("rn"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // Frame-boundary window functions (round 13): first/last/nth value
    // over the full per-user frame — the entry/exit/second-touch
    // attribution columns (a full-frame last_value REQUIRES the
    // explicit unbounded-following frame; the default frame ends at
    // CURRENT ROW and silently yields the running last — the classic
    // window-function trap, pinned here cross-engine).
    "window_first_last" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"),
          nth_value(col("event_type"), 2).over(w).as("second_type"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // Set operations: EXCEPT / INTERSECT over user populations.
    "set_ops" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id"))
      users("purchase").except(users("error"))
        .withColumn("op", lit("purchase_minus_error"))
        .union(users("signup").intersect(users("view"))
          .withColumn("op", lit("signup_and_view")))
        .select(col("op"), col("user_id"))
        .orderBy(col("op"), col("user_id"))
    }),

    // Audience-overlap matrix (round 13): pairwise Jaccard between
    // event-type user populations — the segment-overlap audit behind
    // every "are these audiences the same people" decision (set_ops
    // proves one pair's algebra; THIS measures all pairs). One
    // distinct pass, self-join on user over the (type, user) relation,
    // per-pair exact counts + integer-ppm Jaccard — |A∪B| =
    // |A|+|B|−|A∩B|, no second pass.
    "event_user_overlap" -> ((s, d) => {
      val tu = Tables.events(s, d)
        .filter(col("event_type").isNotNull)
        .select(col("event_type").as("t"), col("user_id")).distinct()
      val sz = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
      tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sz.select(col("t").as("type_a"), col("n").as("n_a"))),
          "type_a")
        .join(broadcast(sz.select(col("t").as("type_b"), col("n").as("n_b"))),
          "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_common"),
          expr("(n_common * 1000000) div nullif(n_a + n_b - n_common, 0L)")
            .as("jaccard_ppm"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Skew-safe salted aggregation (same semantics as direct groupBy —
    // that IS the oracle; structure is the 100 TB hot-key remedy).
    "agg_salted" -> ((s, d) =>
      Relational.saltedAgg(Tables.events(s, d))),

    // Skew-safe salted equi-join: 10k events over 150 hot users against
    // the 1.5k-customer dim — result ≡ the plain join (the oracle), hot
    // keys diffused over 16 salted shuffle partitions.
    "join_skew_salted" -> ((s, d) =>
      Relational.saltedJoin(
          Tables.events(s, d),
          Tables.customer(s, d)
            .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
          "user_id", "c_custkey", col("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("event_id"))),

    // Edit-distance fuzzy self-join (round 9): PassJoin pigeonhole
    // segments → bounded-bucket candidates → native levenshtein verify,
    // over the distinct-name dictionary — never the all-pairs join.
    "join_fuzzy" -> ((s, d) =>
      Relational.fuzzyJoin(Tables.part(s, d))),

    // Type-2 SCD historization (round 9): per-user event_type change
    // points → versioned validity intervals; one shuffle on user_id.
    "dim_scd2" -> ((s, d) =>
      Relational.scd2(Tables.events(s, d))),

    // Point-in-time snapshot (round 11): the query SCD2 exists to
    // answer — state at T via half-open interval containment.
    "dim_snapshot_at" -> ((s, d) =>
      Relational.snapshotAt(Tables.events(s, d))),

    // Fact-to-SCD2 as-of join (round 13): every purchase joined to the
    // dimension VERSION valid at its event time — the late-arriving-
    // fact query the type-2 timeline serves (see factScd2Join's
    // scaladoc).
    "dim_scd2_join" -> ((s, d) =>
      Relational.factScd2Join(Tables.events(s, d))),

    // SCD2 late-batch upsert (round 14): historize the first half of
    // the span, apply the second half as a batch — close touched
    // currents, append continuing versions; the full rebuild is the
    // oracle (see scd2Upsert's scaladoc for the fold identity).
    "dim_scd2_upsert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        .head
      if (bounds.isNullAt(0)) Relational.scd2(ev)
      else {
        val lo = bounds.getTimestamp(0).getTime
        val hi = bounds.getTimestamp(1).getTime
        val cut = new java.sql.Timestamp(lo + (hi - lo) / 2)
        Relational.scd2Upsert(
          Relational.scd2(ev.filter(col("ts") < lit(cut))),
          ev.filter(col("ts") >= lit(cut)))
      }
    }),

    // Order backlog timeline (round 13): opened/closed/outstanding per
    // month over the calendar-bounded grid (see orderBacklog's
    // scaladoc).
    "order_backlog" -> ((s, d) =>
      Relational.orderBacklog(Tables.orders(s, d), Tables.lineitem(s, d))),

    // Exact equi-width histogram in integer cents (round 9): two
    // aggregates, <= nb rows out at any scale.
    "stats_histogram" -> ((s, d) =>
      Relational.priceHistogram(Tables.orders(s, d))),

    // Benford first-digit audit (round 12): integer-exact digit
    // extraction + shared-constant expected table, ppm deviations,
    // structural 9-digit rows (see benfordAudit's scaladoc).
    "stats_benford" -> ((s, d) =>
      Relational.benfordAudit(Tables.orders(s, d))),

    // Burst-velocity flag (round 12): max trailing-window event count
    // per user — the rate-limit face of abuse detection (see
    // velocityFlag's scaladoc).
    "event_velocity_flag" -> ((s, d) =>
      Sessionize.velocityFlag(Tables.events(s, d))),

    // Bot/automation detector (round 12): per-user gap-regularity flag
    // in exact µs — metronome gaps mean a script (see botDetect's
    // scaladoc).
    "event_bot_detect" -> ((s, d) =>
      Sessionize.botDetect(Tables.events(s, d))),

    // Pareto/concentration audit (round 12): top-N customer revenue
    // share in exact ppm (see paretoReport's scaladoc).
    "order_pareto" -> ((s, d) =>
      Relational.paretoReport(Tables.orders(s, d))),

    // ABC inventory classification (round 14): per-brand cumulative
    // revenue split at 80/95% in exact ×10⁴ units (see
    // abcClassification's scaladoc).
    "order_abc_class" -> ((s, d) =>
      Relational.abcClassification(Tables.lineitem(s, d), Tables.part(s, d))),

    // Theil–Sen robust trend (round 14): exact-rational lower-median
    // of pairwise slopes over the gap-filled per-type daily series
    // (see theilSen's scaladoc).
    "stats_theil_sen" -> ((s, d) =>
      Relational.theilSen(Tables.events(s, d))),

    // User-participation gini (round 16): inequality of per-user event
    // counts — the 90-9-1 readout on the bounded count grid (see
    // userActivityGini's scaladoc).
    "event_user_gini" -> ((s, d) =>
      Relational.userActivityGini(Tables.events(s, d))),

    // Kendall's τ-b (round 14): doubled exact pair counts over the
    // bit-length contingency grid, one fixed IEEE tree (see
    // kendallTau's scaladoc).
    "stats_kendall" -> ((s, d) =>
      Relational.kendallTau(Tables.orders(s, d))),

    // Event-value drift (round 14): weekly total-variation distance vs
    // the global value distribution on bit-length buckets, exact ppm
    // (see eventValueDrift's scaladoc).
    "event_value_drift" -> ((s, d) =>
      Relational.eventValueDrift(Tables.events(s, d))),

    // Poisson dispersion index (round 14): per-type variance/mean over
    // the gap-filled daily grid in exact ppm — the burstiness detector
    // (see dispersionIndex's scaladoc).
    "stats_dispersion" -> ((s, d) =>
      Relational.dispersionIndex(Tables.events(s, d))),

    // Linear gap interpolation (round 14): calendar gaps in the daily
    // revenue LEVEL series filled by exact sign-split linear
    // interpolation between anchors (see interpolateDaily's scaladoc).
    "window_interpolate" -> ((s, d) =>
      Relational.interpolateDaily(Tables.orders(s, d))),

    // Hour-of-day profile (round 14): per-type 24-hour histogram with
    // exact ppm shares, completed grid, deterministic peak flag (see
    // hourlyProfile's scaladoc).
    "event_hourly_profile" -> ((s, d) =>
      Relational.hourlyProfile(Tables.events(s, d))),

    // Wald–Wolfowitz runs test (round 14): randomness of the per-type
    // daily series — doubled-median signs, lag-window runs, one fixed
    // z tree (see runsTest's scaladoc).
    "stats_runs_test" -> ((s, d) =>
      Relational.runsTest(Tables.events(s, d))),

    // Day-of-week seasonal component (round 14): centered 7-day
    // detrend (×7 integer) then per-dow means — the weekday effect
    // autocorr detects but cannot size (see seasonalDow's scaladoc).
    "stats_seasonal_dow" -> ((s, d) =>
      Relational.seasonalDow(Tables.orders(s, d))),

    // Daily error-rate / SLO burn (round 14): exact ppm against the
    // shared budget, over-budget days flagged (see errorRate's
    // scaladoc).
    "event_error_rate" -> ((s, d) =>
      Relational.errorRate(Tables.events(s, d))),

    // Spend-quartile migration matrix (round 14): NTILE(4) per span
    // half, (from → to) flows incl. new/gone edges (see
    // segmentMigration's scaladoc).
    "customer_segment_migration" -> ((s, d) =>
      Relational.segmentMigration(Tables.orders(s, d))),

    // Daily alerting bands (round 14): nearest-rank p10/p50/p90 of the
    // gap-filled daily counts per type (see dailyBands' scaladoc).
    "stats_daily_bands" -> ((s, d) =>
      Relational.dailyBands(Tables.events(s, d))),

    // Hourly reach (round 14): distinct users per tumbling hour beside
    // the event-count windows (see hourlyReach's scaladoc).
    "event_window_reach" -> ((s, d) =>
      Relational.hourlyReach(Tables.events(s, d))),

    // Data freshness audit (round 14): per-type last event, exact µs
    // lag behind the corpus-wide latest, freshness rank (see
    // freshness' scaladoc).
    "quality_freshness" -> ((s, d) =>
      Relational.freshness(Tables.events(s, d))),

    // Null/blank/zero census (round 15): the three missing-value
    // flavors per audited column in one aggregation pass (see
    // nullCensus' scaladoc).
    // Value-domain range audit (round 16): observed min/max + counts
    // outside the documented domain per measure (see valueRangeAudit's
    // scaladoc).
    "quality_value_ranges" -> ((s, d) =>
      Relational.valueRangeAudit(Tables.lineitem(s, d))),

    "quality_null_census" -> ((s, d) =>
      Relational.nullCensus(Tables.events(s, d))),

    // Timestamp-granularity collision audit (round 15): events made
    // indistinguishable per truncation grain — the downcast question
    // the reference's second-granular ODBC format poses (see
    // tsCollisionAudit's scaladoc).
    "quality_ts_collisions" -> ((s, d) =>
      Relational.tsCollisionAudit(Tables.events(s, d))),

    // Permutation test (round 15): assumption-free p for the arm gap,
    // deterministic md5 label shuffles, integer-domain comparison (see
    // permutationTest's scaladoc).
    "stats_perm_test" -> ((s, d) =>
      Relational.permutationTest(Tables.events(s, d))),

    // Wilcoxon signed-rank (round 15): paired day-vs-day−7 revenue,
    // doubled average ranks on the |d| grid (see wilcoxonSignedRank's
    // scaladoc).
    "stats_wilcoxon" -> ((s, d) =>
      Relational.wilcoxonSignedRank(Tables.orders(s, d))),

    // Sign test (round 16): same lag-7 pairs, only the difference
    // signs — the assumption-minimal paired readout (see signTest's
    // scaladoc).
    "stats_sign_test" -> ((s, d) =>
      Relational.signTest(Tables.orders(s, d))),

    // Running-peak drawdown (round 16): cumulative max + gap over the
    // gap-filled daily revenue grid (see drawdownSeries' scaladoc).
    "window_drawdown" -> ((s, d) =>
      Relational.drawdownSeries(Tables.orders(s, d))),

    // Mann–Kendall trend test (round 16): calendar-bounded pair census
    // with tie-corrected variance, exact integer z² (see mannKendall's
    // scaladoc).
    "stats_mann_kendall" -> ((s, d) =>
      Relational.mannKendall(Tables.orders(s, d))),

    // Day-over-day growth in bps (round 16): sign-split integer
    // division over the gap-filled grid (see dodChangeBps' scaladoc).
    "window_pct_change" -> ((s, d) =>
      Relational.dodChangeBps(Tables.orders(s, d))),

    // Hodges–Lehmann estimator (round 16): median Walsh sum over the
    // lag-7 diffs — the robust shift size beside the Wilcoxon/sign
    // significance (see hodgesLehmann's scaladoc).
    "stats_hodges_lehmann" -> ((s, d) =>
      Relational.hodgesLehmann(Tables.orders(s, d))),

    // Kruskal–Wallis H (round 16): k-group rank ANOVA on the quantity
    // grid, sorted-fold H (see kruskalWallis' scaladoc).
    "stats_kruskal" -> ((s, d) =>
      Relational.kruskalWallis(Tables.lineitem(s, d))),

    // Cliff's delta (round 16): exact ordinal effect size from the
    // value-grouped pair census (see cliffsDelta's scaladoc).
    "stats_cliffs_delta" -> ((s, d) =>
      Relational.cliffsDelta(Tables.events(s, d))),

    // Calendar gap census (round 16): maximal dead-day runs as rows —
    // the outage audit behind the gap-fill doctrine (see gapCensus'
    // scaladoc).
    "window_gap_census" -> ((s, d) =>
      Relational.gapCensus(Tables.orders(s, d))),

    // One-sample KS vs uniform weekdays (round 16): integer-domain
    // ECDF supremum on the dense dow grid (see ksUniformDow's
    // scaladoc).
    "stats_ks_uniform" -> ((s, d) =>
      Relational.ksUniformDow(Tables.orders(s, d))),

    // Jonckheere–Terpstra (round 16): ordered-alternative k-group test
    // on the dense priority × quantity grid, tie-corrected z (see
    // jonckheereTerpstra's scaladoc).
    "stats_jonckheere" -> ((s, d) =>
      Relational.jonckheereTerpstra(Tables.orders(s, d),
        Tables.lineitem(s, d))),

    // 2-D skyline (round 16): the Pareto frontier via the grid-bounded
    // running max — no n² dominance anti-join (see skyline2d's
    // scaladoc).
    "agg_skyline_2d" -> ((s, d) =>
      Relational.skyline2d(Tables.part(s, d))),

    // Strict local-maximum days (round 16): the alerting shortlist
    // over gap-filled daily event counts (see peakDays' scaladoc).
    "event_peak_days" -> ((s, d) =>
      Relational.peakDays(Tables.events(s, d))),

    // Friedman k-related-samples test (round 15): weekday effect with
    // weeks as blocks, doubled in-block ranks, integer χ²_F (see
    // friedmanTest's scaladoc).
    "stats_friedman" -> ((s, d) =>
      Relational.friedmanTest(Tables.orders(s, d))),

    // Nemenyi post-hoc rank gaps (round 16): pairwise weekday mean-rank
    // gaps vs the α=0.05 critical difference, graded crit-ratio in ppm
    // (see nemenyiPairs' scaladoc).
    "stats_nemenyi" -> ((s, d) =>
      Relational.nemenyiPairs(Tables.orders(s, d))),

    // Page trend test (round 16): ordered-alternative L statistic over
    // the Friedman blocks, exact integer z² (see pageTrend's scaladoc).
    "stats_page_trend" -> ((s, d) =>
      Relational.pageTrend(Tables.orders(s, d))),

    // Streaming rolling-WAU parity (round 15): exactly-once pair
    // extraction across micro-batches + the shared batch tail (see
    // StreamingWindows.wauParityReplay's scaladoc).
    "stream_wau_parity" -> ((s, d) => {
      val base = queryDir("stream_wau")
      graft.streaming.StreamingWindows.wauParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // Rolling 7-day active users (round 15): WAU-by-day via deduped
    // (user, day) contribution fan-out — distinct counts don't slide
    // (see rollingWau's scaladoc).
    "event_rolling_wau" -> ((s, d) =>
      Relational.rollingWau(Tables.events(s, d))),

    // Streaming weekly-OHLC parity (round 16): cross-batch daily cent
    // aggregation in complete mode + the shared gap-fill/resample tail
    // (see StreamingWindows.ohlcParityReplay's scaladoc).
    "stream_ohlc_parity" -> ((s, d) => {
      val base = queryDir("stream_ohlc")
      graft.streaming.StreamingWindows.ohlcParityReplay(
        Tables.orders(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // Edge-weight histogram (round 14): the distribution that sizes
    // the strong-tie minWeight constant — the graph twin of
    // dedup_df_histogram (see weightHistogram's scaladoc).
    "graph_weight_hist" -> ((s, d) =>
      Graph.weightHistogram(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Degree Gini (round 14): hub concentration of the co-order degree
    // distribution — the order_gini machinery on the bounded degree
    // grid (see degreeGini's scaladoc).
    "graph_degree_gini" -> ((s, d) =>
      Graph.degreeGini(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Primary-key audit (round 14): per declared entity key, the
    // uniqueness contract — dup keys/rows and NULL-key rows (see
    // pkAudit's scaladoc; key expressions shared with the oracle).
    "quality_pk_audit" -> ((s, d) =>
      Relational.pkAudit(PkAudits.map { case (entity, table, keySql) =>
        (entity, tableByName(s, d, table), keySql)
      })),

    // Bootstrap CI (round 12): deterministic md5 Poisson bootstrap
    // (see bootstrapCi's scaladoc).
    "stats_bootstrap_ci" -> ((s, d) =>
      Relational.bootstrapCi(Tables.orders(s, d))),

    // Welch's t-squared (round 12): exact integer accumulations + the
    // SHARED fixed-order double tail (see welchT2's scaladoc).
    "stats_welch_t2" -> ((s, d) =>
      Relational.welchT2(Tables.events(s, d))),

    // Month-over-month revenue growth (round 13): exact cents, lag
    // over the calendar grid, sign-split ppm (see orderMonthlyGrowth's
    // scaladoc).
    // Revenue waterfall per ship-month (round 16): gross → discount →
    // net → tax → charged, exact sums at their own scales, one
    // truncation per group (see revenueWaterfall's scaladoc).
    "order_revenue_waterfall" -> ((s, d) =>
      Relational.revenueWaterfall(Tables.lineitem(s, d))),

    "order_monthly_growth" -> ((s, d) =>
      Relational.orderMonthlyGrowth(Tables.orders(s, d))),

    // FK referential-integrity audit (round 13): orphan / NULL-key
    // counts over every star-schema edge; dims broadcast, the one
    // fact-parent edge shuffles on the key-grouped child (see
    // fkIntegrity's scaladoc).
    "quality_fk_orphans" -> ((s, d) =>
      Relational.fkIntegrity(Seq(
        ("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey", true),
        ("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", false),
        ("lineitem->part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey", true),
        ("lineitem->supplier", Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", true),
        ("nation->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey", true),
        ("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", true),
        ("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey", true)))),

    // Spearman rank correlation (round 13): Pearson on doubled tied
    // ranks from the bounded value grids, DECIMAL(38) moments, the
    // via-string double bridge (see spearmanCorr's scaladoc).
    "stats_spearman" -> ((s, d) =>
      Relational.spearmanCorr(Tables.lineitem(s, d))),

    // Per-source length drift (round 13): stats_ks composed over every
    // shard — each source vs the rest, integer-domain ECDF suprema
    // (see lengthDriftBySource's scaladoc).
    "quality_len_drift" -> ((s, d) =>
      Relational.lengthDriftBySource(Tables.documents(s, d))),

    // Basket-size histogram (round 13): lineitems per order — the
    // co-order fan-out sizing input (see basketSizeHist's scaladoc).
    "order_basket_hist" -> ((s, d) =>
      Relational.basketSizeHist(Tables.lineitem(s, d))),

    // Supplier HHI per nation (round 13): Herfindahl concentration of
    // supplier revenue + effective supplier count (see supplierHhi's
    // scaladoc).
    "supplier_hhi" -> ((s, d) =>
      Relational.supplierHhi(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),

    // Segment diversity per nation (round 13): exact-rational Simpson
    // + inverse ("effective segments") — the categorical concentration
    // readout (see customerDiversity's scaladoc).
    "customer_diversity" -> ((s, d) =>
      Relational.customerDiversity(Tables.customer(s, d),
        Tables.nation(s, d))),

    // Holt level+trend forecast (round 13): α=β=1/2 integer halvings
    // over the gap-filled month grid, one aggregate() fold (see
    // holtForecast's scaladoc).
    "order_forecast_holt" -> ((s, d) =>
      Relational.holtForecast(Tables.orders(s, d))),

    // Holt-Winters additive forecast (round 15): level+trend+DOW
    // season over the daily grid, integer halving smoothing, one HOF
    // fold (see holtWintersForecast's scaladoc).
    "order_forecast_hw" -> ((s, d) =>
      Relational.holtWintersForecast(Tables.orders(s, d))),

    // Weekly OHLC resample (round 15): open/high/low/close over the
    // gap-filled daily revenue grid, min/max-of-struct open/close —
    // no window (see weeklyOhlc's scaladoc).
    "window_ohlc_weekly" -> ((s, d) =>
      Relational.weeklyOhlc(Tables.orders(s, d))),

    // QQ decile table click vs purchase (round 15): exact nearest-rank
    // order statistics per arm off the value grid (see qqDeciles's
    // scaladoc).
    "stats_qq_deciles" -> ((s, d) =>
      Relational.qqDeciles(Tables.events(s, d))),

    // Month-of-year seasonality (round 13): revenue share per calendar
    // month pooled across years, 12 structural rows, integer ppm (see
    // orderSeasonality's scaladoc).
    "order_seasonality" -> ((s, d) =>
      Relational.orderSeasonality(Tables.orders(s, d))),

    // 7-day rolling median (round 13): the robust smoother over the
    // shared gap-filled day series (see rollingMedian's scaladoc).
    "window_rolling_median" -> ((s, d) =>
      Relational.rollingMedian(Tables.orders(s, d))),

    // Revenue ACF (round 13): lag-1..7 Pearson over the gap-filled
    // daily revenue grid — weekly-cycle detector; one window pass,
    // DECIMAL(38) moments (see revenueAutocorr's scaladoc).
    "stats_autocorr" -> ((s, d) =>
      Relational.revenueAutocorr(Tables.orders(s, d))),

    // Gini concentration (round 13): exact integer rank-weighted sum
    // over the cents grid, one IEEE division (see orderGini's
    // scaladoc).
    "order_gini" -> ((s, d) =>
      Relational.orderGini(Tables.orders(s, d))),

    // One-way ANOVA F (round 13): k-group mean separation closing the
    // classical-test family — exact integer accumulations per fixed
    // group order, one shared fixed-order double tail (see
    // anovaOneWay's scaladoc).
    "stats_anova" -> ((s, d) =>
      Relational.anovaOneWay(Tables.events(s, d))),

    // Brown–Forsythe / Levene (round 14): variance homogeneity — the
    // check that validates stats_anova, as ANOVA on doubled-median
    // absolute deviations (see leveneBrownForsythe's scaladoc).
    "stats_levene" -> ((s, d) =>
      Relational.leveneBrownForsythe(Tables.events(s, d))),

    // Mann-Whitney U (round 13): the rank-based two-sample test —
    // doubled tied ranks keep every accumulation BIGINT; the AUC
    // effect size divides once (see mannWhitneyU's scaladoc).
    "stats_mannwhitney" -> ((s, d) =>
      Relational.mannWhitneyU(Tables.events(s, d))),

    // Two-sample Kolmogorov-Smirnov D (round 13): the ECDF-gap drift
    // monitor; supremum computed in the integer domain D*n_a*n_b over
    // the bounded cents grid (see ksTest's scaladoc).
    "stats_ks" -> ((s, d) =>
      Relational.ksTest(Tables.events(s, d))),

    // Type-revenue share (round 12): the TPC-H Q14 shape with the
    // scaled-denominator ppm (see typeRevenueShare's scaladoc).
    "q14_type_share" -> ((s, d) =>
      Relational.typeRevenueShare(Tables.lineitem(s, d), Tables.part(s, d))),

    // ---- Round-13 TPC-H batch (see Relational's section scaladoc:
    // the remaining shapes expressible over this schema; q2/q9/q11/
    // q16/q20 need the absent partsupp table) -------------------------
    "q1_pricing_summary" -> ((s, d) =>
      Relational.q1PricingSummary(Tables.lineitem(s, d))),

    "q4_order_priority" -> ((s, d) =>
      Relational.q4OrderPriority(Tables.orders(s, d), Tables.lineitem(s, d))),

    "q7_volume_shipping" -> ((s, d) =>
      Relational.q7VolumeShipping(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),

    "q8_market_share" -> ((s, d) =>
      Relational.q8MarketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),

    "q12_late_lines" -> ((s, d) =>
      Relational.q12LateLines(Tables.lineitem(s, d), Tables.orders(s, d))),

    "q13_cust_distribution" -> ((s, d) =>
      Relational.q13CustomerDistribution(Tables.customer(s, d),
        Tables.orders(s, d))),

    "q15_top_supplier" -> ((s, d) =>
      Relational.q15TopSupplier(Tables.lineitem(s, d),
        Tables.supplier(s, d))),

    "q21_waiting_suppliers" -> ((s, d) =>
      Relational.q21WaitingSuppliers(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d))),

    "q17_small_qty_revenue" -> ((s, d) =>
      Relational.q17SmallQtyRevenue(Tables.lineitem(s, d), Tables.part(s, d))),

    "q19_discounted_revenue" -> ((s, d) =>
      Relational.q19DiscountedRevenue(Tables.lineitem(s, d),
        Tables.part(s, d))),

    "q22_sales_opportunity" -> ((s, d) =>
      Relational.q22SalesOpportunity(Tables.customer(s, d),
        Tables.orders(s, d))),

    // Fulfillment-lag SLA audit (round 12): order-to-ship day lags
    // per priority with the ppm SLA share (see fulfillmentLag's
    // scaladoc).
    "order_fulfillment_lag" -> ((s, d) =>
      Relational.fulfillmentLag(Tables.orders(s, d), Tables.lineitem(s, d))),

    // Repeat-purchase cadence (round 12): exact day gaps between
    // consecutive orders per repeat customer (see repeatInterval's
    // scaladoc).
    "order_repeat_interval" -> ((s, d) =>
      Relational.repeatInterval(Tables.orders(s, d))),

    // RFM segmentation (round 11): recency/frequency/monetary quintile
    // bands from the md5-reservoir edges — no global NTILE sort; the
    // <=125-row segment grid with exact integer-cents monetary sums.
    "customer_rfm" -> ((s, d) =>
      Relational.rfmSegments(Tables.orders(s, d))),

    // Cohort LTV (round 11): first-order-month cohorts × month offsets,
    // exact integer months + cents — retention's monetary sibling.
    "order_cohort_ltv" -> ((s, d) =>
      Relational.cohortLtv(Tables.orders(s, d))),

    // Fixed-point PageRank (round 9): 2 unrolled iterations in integer
    // arithmetic over the order co-occurrence graph — the IVF unroll
    // doctrine applied to graph compute; per-iteration shuffle on the
    // node key is the Pregel superstep expressed relationally.
    // Both graph queries read the SHARED memoized edge relation (see
    // coOrderEdgesShared): one 3-shuffle edge build per (session,
    // dataset), every graph consumer reads the checkpointed table.
    "graph_pagerank" -> ((s, d) =>
      Graph.pageRank(Tables.lineitem(s, d), scope = harnessScope,
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Oriented triangle counting (round 9): a<b<c joins build each
    // triangle once; per-node participation top-20. Round 12: reads the
    // SHARED memoized enumeration (memo:triangles) — the wedge join runs
    // once per (session, dataset), not once per graph audit.
    "graph_triangles" -> ((s, d) =>
      Graph.triangles(Tables.lineitem(s, d), scope = harnessScope,
        edges0 = Some(coOrderEdgesShared(s, d)),
        tri0 = Some(trianglesShared(s, d)))),

    // Degree distribution (round 11): the skew diagnostic that sizes
    // the triangle orientation + bucket caps; zero-degree nodes are
    // structural. Reads the shared memoized edges.
    "graph_degree_dist" -> ((s, d) =>
      Graph.degreeDistribution(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Neighbor-Jaccard link scores (round 11): link prediction from the
    // degree-ordered triangle enumeration — common neighbors via one
    // explode+groupBy, never a neighborhood-set join. Fourth consumer
    // of the shared edges.
    "graph_link_jaccard" -> ((s, d) =>
      Graph.neighborJaccard(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        tri0 = Some(trianglesShared(s, d)))),

    // Association rules (round 12): support/confidence/lift per
    // co-purchased pair — support IS the shared edge weight; top-20 by
    // lift.
    "order_affinity_rules" -> ((s, d) =>
      Graph.affinityRules(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Connected components (round 12): component-size histogram via the
    // generic CC primitive over the shared edges; isolated parts are
    // structural singletons.
    "graph_components" -> ((s, d) =>
      Graph.components(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // k-core extraction (round 12): fixed-round peel with a loud
    // in-plan convergence gate (see kCore's scaladoc).
    "graph_kcore" -> ((s, d) =>
      Graph.kCore(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Multi-source BFS layers (round 13): per-hop strong-tie reach of
    // the md5-'00' seed set, unreached mass structural at depth -1
    // (see bfsLayers' scaladoc). Reads the shared memoized edges.
    "graph_bfs_layers" -> ((s, d) =>
      Graph.bfsLayers(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Two-hop reach from the md5 seed set (round 15): friend-of-friend
    // audience per seed on the strong-tie subgraph (see twoHopReach's
    // scaladoc). Reads the shared memoized edges.
    "graph_two_hop_reach" -> ((s, d) =>
      Graph.twoHopReach(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Degree assortativity (round 12): the hub-mixing audit as an
    // exact integer ratio — symmetry collapses Pearson's sqrt (see
    // assortativity's scaladoc).
    "graph_assortativity" -> ((s, d) =>
      Graph.assortativity(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Closeness centrality from md5 seeds (round 14): per-seed
    // round-capped BFS over the strong-tie graph, classic closeness in
    // exact ppm (see closenessFromSeeds' scaladoc).
    "graph_closeness" -> ((s, d) =>
      Graph.closenessFromSeeds(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)))),

    // Label-propagation communities (round 12): deterministic
    // synchronous LPA, fixed supersteps unrolled into the oracle —
    // density communities next to graph_components' connectivity (see
    // labelPropagation's scaladoc).
    "graph_label_prop" -> ((s, d) =>
      Graph.labelPropagation(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        labels0 = Some(lpaLabelsShared(s, d)))),

    // Modularity of the LPA partition (round 13): Q·4m² as an exact
    // integer identity over the SHARED memoized labels (memo:lpa_labels
    // — detection runs once, sizing + scoring read the table), one IEEE
    // division (see modularity's scaladoc).
    "graph_modularity" -> ((s, d) =>
      Graph.modularity(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        labels0 = Some(lpaLabelsShared(s, d)))),

    // Local clustering coefficient (round 12): neighborhood density per
    // node from the SAME shared enumeration — third consumer of
    // memo:triangles; marginal cost is one explode+groupBy + a degree
    // join.
    "graph_cluster_coeff" -> ((s, d) =>
      Graph.clusteringCoeff(Tables.lineitem(s, d),
        edges0 = Some(coOrderEdgesShared(s, d)),
        tri0 = Some(trianglesShared(s, d)))),

    // Exact interpolated quantiles (order statistics, oracle-checkable).
    "text_len_quantiles" -> ((s, d) =>
      Relational.lengthQuantiles(Tables.documents(s, d))),

    // Per-GROUP exact type-7 quartiles in integer cents (round 9):
    // the same exact-rational machinery, partitioned per priority.
    "group_quantiles" -> ((s, d) =>
      Relational.groupQuantiles(Tables.orders(s, d))),

    // ---- Group B: event-time windowing ----------------------------------

    "event_window_tumbling" -> ((s, d) =>
      Sessionize.tumbling(Tables.events(s, d))),

    // STREAMING parity (round 12): the events corpus replayed as a
    // genuine multi-micro-batch file stream through
    // StreamingWindows.tumbling — cross-batch aggregation state under
    // the SAME oracle as the batch key (see tumblingParityReplay's
    // scaladoc for the complete-vs-append reasoning).
    "stream_window_parity" -> ((s, d) => {
      val base = queryDir("stream_win")
      // nFiles = 3 (r18, VERDICT item 1): each micro-batch carries
      // fixed scheduler + state-commit overhead, so the replay cost is
      // ~linear in batch count — 3 data batches keep the cross-batch
      // property (state survives two boundaries) at the minimum fixed
      // cost; the spec exercises its own split
      graft.streaming.StreamingWindows.tumblingParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // SLIDING windows (round 11): 15-min windows every 5 min — each
    // event fans out to exactly 3 windows map-side, partial aggregation
    // before the one (window, type) shuffle.
    "event_window_sliding" -> ((s, d) =>
      Sessionize.sliding(Tables.events(s, d))),

    "event_sessionize" -> ((s, d) =>
      Sessionize.sessions(Tables.events(s, d))),

    // Peak concurrency (round 14): day-clipped ±1 sweep over the
    // session intervals — the capacity number beside DAU (see
    // concurrency's scaladoc).
    "event_concurrency" -> ((s, d) =>
      Sessionize.concurrency(Tables.events(s, d))),

    // STATEFUL-streaming parity (round 12): the flatMapGroupsWithState
    // sessionizer replayed over the events corpus as a multi-batch file
    // stream with an end-of-stream flush, under the SAME oracle as the
    // batch key (see sessionizeParityReplay's scaladoc).
    "stream_sessionize_parity" -> ((s, d) => {
      val base = queryDir("stream_sess")
      graft.streaming.StatefulSessions.sessionizeParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // Ordered conversion funnel: deepest signup → view → purchase stage
    // per user, each step strictly after the previous one's earliest hit.
    // Windowed funnel (round 13): the conversion-window variant —
    // step n within 7 days of step n−1, greedy-earliest anchoring
    // (see funnelWindowed's scaladoc).
    "event_funnel_window" -> ((s, d) =>
      Sessionize.funnelWindowed(Tables.events(s, d))),

    "event_funnel" -> ((s, d) =>
      Sessionize.funnel(Tables.events(s, d))),

    // Per-user event journey (round 8): path-analysis primitive — each
    // user's (ts, event_id)-ordered event types as one a>b>c string.
    "event_journey" -> ((s, d) =>
      Sessionize.userJourney(Tables.events(s, d))),

    // Last-touch attribution (round 9): conversions credited to the
    // as-of touch within a 12 h horizon — one window pass over the
    // per-user timeline, no conversion×touch join.
    "event_attribution" -> ((s, d) =>
      Sessionize.lastTouchAttribution(Tables.events(s, d))),

    // Multi-touch attribution (round 10): linear + time-decay +
    // U-shaped position credit per conversion path, parts-per-million
    // integer credits with deterministic remainder assignment — every
    // conversion reconciles to exactly 1_000_000 under every model.
    // Same single-window-pass timeline shape as event_attribution.
    "event_attribution_multi" -> ((s, d) =>
      Sessionize.multiTouchAttribution(Tables.events(s, d))),

    // Weekly cohort retention (round 7): first-event-week cohorts ×
    // active-week offsets, distinct users per cell.
    "event_retention" -> ((s, d) =>
      Sessionize.retention(Tables.events(s, d))),
  )

  /** The Friedman block-design ranks (complete Monday-start weeks ×
    * weekday, doubled in-block average ranks on the gap-filled daily
    * revenue grid), shared by `stats_friedman` and its post-hoc
    * consumers `stats_nemenyi` / `stats_page_trend` — ends at the
    * `rk(dow, week, dr)` CTE. */
  private val sqlFriedmanRanks: String =
    "d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
      "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
      "FROM orders GROUP BY 1), " +
      "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
      "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
      "series AS (SELECT date_trunc('week', g.day) AS week, " +
      "CAST(dayofweek(g.day) + 1 AS BIGINT) AS dow, " +
      "CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
      "FROM grid g LEFT JOIN d USING (day)), " +
      "cw AS (SELECT week FROM series GROUP BY 1 HAVING COUNT(*) = 7), " +
      "blk AS (SELECT s.* FROM series s SEMI JOIN cw ON s.week = cw.week), " +
      "grp AS (SELECT week, x, CAST(COUNT(*) AS BIGINT) AS m FROM blk GROUP BY 1, 2), " +
      "dr AS (SELECT week, x, " +
      "(SUM(m) OVER (PARTITION BY week ORDER BY x) - m) * 2 + m + 1 AS dr FROM grp), " +
      "rk AS (SELECT blk.dow, blk.week, dr.dr FROM blk JOIN dr USING (week, x))"

  /** Enrichment replay shared by `join_enrich` (batch) and
    * `stream_enrich_parity` (its stream-static replay twin). */
  private val sqlEnrichOrders: String =
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, c_name, c_mktsegment, " +
      "n_name AS nation, r_name AS region " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey ORDER BY o_orderkey"

  /** The SCD2 historization replay, shared by `dim_scd2` and the
    * upsert key (whose oracle is by design the from-scratch rebuild). */
  private val sqlScd2: String =
    "WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, " +
      "event_type AS attr FROM events), " +
      "c AS (SELECT user_id, ts, event_id, attr, " +
      "LAG(attr) OVER w AS prev_attr, LAG(event_id) OVER w AS prev_eid " +
      "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "v AS (SELECT user_id, attr, ts AS valid_from, " +
      "LEAD(ts) OVER w2 AS valid_to, " +
      "CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version " +
      "FROM c WHERE prev_eid IS NULL OR attr IS DISTINCT FROM prev_attr " +
      "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT user_id, attr, valid_from, valid_to, version, " +
      "valid_to IS NULL AS is_current FROM v ORDER BY user_id, version"

  /** PK-audit entities: (entity label, table name, key SQL — the
    * CAST/`||` form is identical text in Spark SQL and DuckDB). */
  private val PkAudits: Seq[(String, String, String)] = Seq(
    ("customer.c_custkey", "customer", "CAST(c_custkey AS STRING)"),
    ("documents.doc_id", "documents", "CAST(doc_id AS STRING)"),
    ("embeddings.vec_id", "embeddings", "CAST(vec_id AS STRING)"),
    ("events.event_id", "events", "CAST(event_id AS STRING)"),
    ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
      "CAST(l_orderkey AS STRING) || ':' || CAST(l_linenumber AS STRING)"),
    ("orders.o_orderkey", "orders", "CAST(o_orderkey AS STRING)"),
    ("part.p_partkey", "part", "CAST(p_partkey AS STRING)"),
    ("supplier.s_suppkey", "supplier", "CAST(s_suppkey AS STRING)"))

  private def tableByName(s: SparkSession, d: String,
                          name: String): DataFrame = name match {
    case "customer" => Tables.customer(s, d)
    case "documents" => Tables.documents(s, d)
    case "embeddings" => Tables.embeddings(s, d)
    case "events" => Tables.events(s, d)
    case "lineitem" => Tables.lineitem(s, d)
    case "orders" => Tables.orders(s, d)
    case "part" => Tables.part(s, d)
    case "supplier" => Tables.supplier(s, d)
    case other => throw new IllegalArgumentException(s"unknown table $other")
  }

  protected def analyticsOracles: Map[String, String] = Map(
    "agg_rollup" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    // decimal sums go to double VIA VARCHAR (exact render + correctly
    // rounded parse in both engines → bit-identical inputs; plain
    // decimal→double casts double-round differently past 2^53)
    "stats_corr" ->
      ("SELECT l_returnflag, n, " +
        "(n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)) / " +
        "(sqrt(n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) * " +
        "sqrt(n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS corr_qty_price " +
        "FROM (SELECT l_returnflag, COUNT(*) AS n, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy " +
        "FROM lineitem GROUP BY l_returnflag) ORDER BY l_returnflag"),

    // one SELECT per profiled column, replaying counts/nulls/distinct/
    // min/max; the engine side does all columns in one Expand scan
    "stats_profile" -> {
      def prof(c: String, numExpr: Option[String]): String = {
        val e = numExpr.getOrElse(c)
        val (mnn, mxn, mns, mxs) = numExpr match {
          case Some(_) => (s"CAST(MIN($e) AS DOUBLE)", s"CAST(MAX($e) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          case None => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            s"MIN($c)", s"MAX($c)")
        }
        s"SELECT '$c' AS \"column\", COUNT(*) AS n_rows, " +
          s"COUNT(*) - COUNT($e) AS n_null, " +
          s"CAST(COUNT(DISTINCT $e) AS BIGINT) AS n_distinct, " +
          s"$mnn AS min_num, $mxn AS max_num, $mns AS min_str, $mxs AS max_str " +
          "FROM lineitem"
      }
      "SELECT * FROM (" +
        (Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
          .map(c => prof(c, Some(c))) ++
          Seq(prof("l_shipdate", Some("epoch_us(l_shipdate)"))) ++
          Seq("l_returnflag", "l_linestatus").map(c => prof(c, None)))
          .mkString(" UNION ALL ") +
        ") ORDER BY \"column\""
    },

    "agg_rollup_sets" ->
      ("SELECT l_returnflag, l_linestatus, GROUPING(l_returnflag, l_linestatus) AS gid, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),

    "agg_cube" ->
      ("SELECT l_returnflag, l_linestatus, GROUPING(l_returnflag, l_linestatus) AS gid, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),

    // bucketed-evolution replay from the ORIGINAL relations + the
    // orderkey-parity split: a reader that loses a generation, invents
    // a back-filled value, or drops joined rows breaks a count or sum
    "sink_bucketed_evolution" ->
      ("WITH j AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS gen, " +
        "CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority " +
        "ELSE '<backfill>' END AS priority, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey) " +
        "SELECT CAST(gen AS BIGINT) AS gen, priority, " +
        "CAST(COUNT(*) AS BIGINT) AS n_lines, " +
        "CAST(SUM(cents) AS BIGINT) AS rev_cents " +
        "FROM j GROUP BY 1, 2 ORDER BY 1, 2"),

    // the bucketed join's oracle IS the plain join — co-location must
    // not change a single row
    "join_bucketed" ->
      ("SELECT o.o_orderkey AS orderkey, l.l_linenumber AS linenumber, " +
        "o.o_totalprice AS totalprice, l.l_extendedprice AS extendedprice " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "ORDER BY orderkey, linenumber"),

    "join_semi_anti" ->
      ("SELECT c_custkey, CASE WHEN EXISTS (SELECT 1 FROM orders " +
        "WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01') " +
        "THEN 'with_orders' ELSE 'without_orders' END AS kind " +
        "FROM customer ORDER BY c_custkey"),

    "join_enrich" -> sqlEnrichOrders,

    // the stream-stream replay's oracle is the plain inequality join —
    // inner joins emit every on-time match, so the batch statement IS
    // the parity claim
    "stream_join_parity" ->
      ("SELECT l.user_id, CAST(l.ts AS TIMESTAMP) AS l_ts, " +
        "l.event_id AS l_event_id, CAST(r.ts AS TIMESTAMP) AS r_ts, " +
        "r.event_id AS r_event_id " +
        "FROM events l JOIN events r ON l.user_id = r.user_id " +
        "AND l.event_type = 'click' AND r.event_type = 'purchase' " +
        "AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) " +
        "AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 3600 SECOND " +
        "ORDER BY l.user_id, l_event_id, r_event_id"),

    // the stateless stream-static join makes batch-splitting invisible
    // by construction — the shared oracle IS the parity statement
    "stream_enrich_parity" -> sqlEnrichOrders,

    "dedup_exact" ->
      ("SELECT doc_id, text, lang, source, n_chars FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents) " +
        "WHERE rn = 1 ORDER BY doc_id"),

    "stream_dedup_parity" ->
      ("SELECT DISTINCT md5(text) AS h, CAST(length(text) AS INT) AS n_chars " +
        "FROM documents ORDER BY h"),

    // streaming-CDC replay: the batch latest-wins fold over the same
    // derived change feed — version DESC rank 1 per key
    "stream_cdc_parity" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, " +
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents, " +
        "CAST(1 AS BIGINT) AS version FROM orders), " +
        "ch AS (SELECT * FROM base " +
        "UNION ALL SELECT o_orderkey, o_custkey, price_cents + 10000, " +
        "CAST(2 AS BIGINT) FROM base WHERE o_orderkey % 7 = 0 " +
        "UNION ALL SELECT o_orderkey + 1000000000, o_custkey, price_cents, " +
        "CAST(1 AS BIGINT) FROM base WHERE o_orderkey % 97 = 0) " +
        "SELECT o_orderkey, version, o_custkey, price_cents FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey " +
        "ORDER BY version DESC) AS rn FROM ch) WHERE rn = 1 " +
        "ORDER BY o_orderkey"),

    "cdc_upsert" ->
      ("WITH changes AS (" +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 97 = 0) " +
        // whole-row latest-wins, keyed on ONE null-check (matches
        // Relational.upsert's wholesale replace — per-column COALESCE would
        // resurrect stale base values when an update legitimately NULLs a
        // field)
        "SELECT CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderkey ELSE b.o_orderkey END AS o_orderkey, " +
        "CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey, " +
        "CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus, " +
        "CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice, " +
        "CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderdate ELSE b.o_orderdate END AS o_orderdate, " +
        "CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority " +
        "FROM orders b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey " +
        "ORDER BY o_orderkey"),

    "q3_shipping_priority" ->
      ("SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND l_shipdate > TIMESTAMP '1998-01-01' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10"),

    "q6_forecast_revenue" ->
      ("SELECT COUNT(*) AS n_rows, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),

    "q18_top_buyers" ->
      ("WITH big AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) " +
        "SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty " +
        "FROM big JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),

    "q10_returned_items" ->
      ("SELECT c_custkey, c_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue, " +
        "c_acctbal, n_name " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),

    "q5_local_supplier" ->
      ("SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),

    "text_pii_scrub" ->
      ("SELECT doc_id, scrubbed, length(text) - length(scrubbed) AS chars_delta FROM (" +
        "SELECT doc_id, text, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b[0-9a-fA-F]{16,}\\b', '<HEX>', 'g'), " +
        "'[0-9]{4,}', '<NUM>', 'g') AS scrubbed " +
        "FROM documents) ORDER BY doc_id"),

    // HTML-strip replay: same wire synthesis + same ordered chain
    "text_html_strip" ->
      ("WITH w AS (SELECT source, text, " +
        "'<html><body class=\"doc\"><p>' || " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g') || " +
        "'</p><!-- tail --></body></html>' AS wire FROM documents), " +
        "s AS (SELECT source, text, wire, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(wire, " +
        "'<[^>]*>', '', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), " +
        "'&amp;', '&', 'g') AS st FROM w) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN st = text THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered, " +
        "CAST(SUM(length(wire)) AS BIGINT) AS wire_chars, " +
        "CAST(SUM(length(text)) AS BIGINT) AS text_chars " +
        "FROM s GROUP BY source ORDER BY source"),

    // PII-report replay: same cascade stages, len(regexp_extract_all)
    "text_pii_report" ->
      ("WITH st AS (SELECT source, text, " +
        "regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t1 " +
        "FROM documents), " +
        "st2 AS (SELECT source, text, t1, " +
        "regexp_replace(t1, '\\b[0-9a-fA-F]{16,}\\b', '<HEX>', 'g') AS t2 FROM st), " +
        "per AS (SELECT source, " +
        "CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS e, " +
        "CAST(len(regexp_extract_all(t1, '\\b[0-9a-fA-F]{16,}\\b')) AS BIGINT) AS h, " +
        "CAST(len(regexp_extract_all(t2, '[0-9]{4,}')) AS BIGINT) AS n FROM st2) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(e) AS BIGINT) AS emails, CAST(SUM(h) AS BIGINT) AS hex_ids, " +
        "CAST(SUM(n) AS BIGINT) AS digit_runs, " +
        "CAST(SUM(CASE WHEN e + h + n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged, " +
        "CAST((SUM(CASE WHEN e + h + n > 0 THEN 1 ELSE 0 END) * 1000000) " +
        "// nullif(COUNT(*), 0) AS BIGINT) AS flagged_ppm " +
        "FROM per GROUP BY source ORDER BY source"),

    "join_asof_forward" ->
      ("SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, next_ts, " +
        "epoch_us(next_ts) - epoch_us(CAST(ts AS TIMESTAMP)) AS lead_us FROM (" +
        "SELECT event_id, user_id, ts, event_type, " +
        "first_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts " +
        "FROM events) WHERE event_type = 'purchase' ORDER BY event_id"),

    "join_asof" ->
      ("SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, asof_ts FROM (" +
        "SELECT event_id, user_id, ts, event_type, " +
        // order by the µs-truncated ts (events.ts is TIMESTAMP_NS in
        // DuckDB; Spark ranks at microsecond precision) so same-µs ties
        // break identically on event_id in both engines
        "last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS UNBOUNDED PRECEDING) AS asof_ts " +
        "FROM events) WHERE event_type = 'purchase' ORDER BY event_id"),

    // both carries over the same (ts, event_id) order; backward ties
    "join_asof_nearest" ->
      ("WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "w AS (SELECT *, " +
        "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_ts, " +
        "first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_ts " +
        "FROM e), " +
        "p AS (SELECT *, " +
        "CASE WHEN b_ts IS NOT NULL THEN us - epoch_us(b_ts) END AS b_gap, " +
        "CASE WHEN f_ts IS NOT NULL THEN epoch_us(f_ts) - us END AS f_gap " +
        "FROM w WHERE event_type = 'purchase'), " +
        "r AS (SELECT *, CASE WHEN b_gap IS NOT NULL AND " +
        "(f_gap IS NULL OR b_gap <= f_gap) THEN 'back' " +
        "WHEN f_gap IS NOT NULL THEN 'fwd' ELSE 'none' END AS direction FROM p) " +
        "SELECT event_id, user_id, ts, " +
        "CASE WHEN direction = 'back' THEN b_ts WHEN direction = 'fwd' THEN f_ts END AS nearest_ts, " +
        "CASE WHEN direction = 'back' THEN b_gap WHEN direction = 'fwd' THEN f_gap END AS gap_us, " +
        "direction FROM r ORDER BY event_id"),

    // tolerance replay: same carry + the integer-µs age gate; CASE
    // NULLs mirror the Spark when()s
    "join_asof_tolerance" ->
      ("SELECT event_id, user_id, ts, " +
        "CASE WHEN matched THEN raw_asof END AS asof_ts, " +
        "CASE WHEN matched THEN stale_us END AS staleness_us, matched FROM (" +
        "SELECT event_id, user_id, ts, raw_asof, stale_us, " +
        "raw_asof IS NOT NULL AND stale_us <= 86400000000 AS matched FROM (" +
        "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, " +
        "last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS UNBOUNDED PRECEDING) AS raw_asof, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS UNBOUNDED PRECEDING)) AS stale_us " +
        "FROM events) WHERE event_type = 'purchase')" +
        " ORDER BY event_id"),

    // integer-µs arithmetic on the µs-truncated ts, exactly as the Spark
    // side computes containment
    "join_range" ->
      ("SELECT b.event_id AS point_id, e.event_id AS interval_id, " +
        "CAST(b.ts AS TIMESTAMP) AS point_ts, CAST(e.ts AS TIMESTAMP) AS interval_start " +
        "FROM events e JOIN events b ON e.event_type = 'error' AND b.event_type = 'purchase' " +
        "AND epoch_us(CAST(b.ts AS TIMESTAMP)) >= epoch_us(CAST(e.ts AS TIMESTAMP)) " +
        "AND epoch_us(CAST(b.ts AS TIMESTAMP)) < epoch_us(CAST(e.ts AS TIMESTAMP)) + 600000000 " +
        "ORDER BY point_id, interval_id"),

    // direct inequality-join replay of the bucketed overlap join:
    // identical pairs and exact integer-µs overlap lengths
    "join_interval_overlap" ->
      ("WITH a AS (SELECT event_id AS a_id, epoch_us(CAST(ts AS TIMESTAMP)) AS a_s, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS a_e FROM events WHERE event_type = 'error'), " +
        "b AS (SELECT event_id AS b_id, epoch_us(CAST(ts AS TIMESTAMP)) AS b_s, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS b_e FROM events WHERE event_type = 'purchase') " +
        "SELECT a_id, b_id, least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us " +
        "FROM a JOIN b ON a_s < b_e AND b_s < a_e ORDER BY a_id, b_id"),

    // melt replay: UNION ALL long form, decimal-exact sums cast once
    "agg_unpivot" ->
      ("WITH m AS (" +
        "SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem " +
        "UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem " +
        "UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem " +
        "UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem) " +
        "SELECT l_returnflag, measure, COUNT(*) AS n, " +
        "MIN(value) AS vmin, MAX(value) AS vmax, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum " +
        "FROM m GROUP BY 1, 2 ORDER BY 1, 2"),

    "pivot_counts" ->
      ("SELECT user_id, " +
        "COUNT(*) FILTER (WHERE event_type = 'click') AS click, " +
        "COUNT(*) FILTER (WHERE event_type = 'error') AS error, " +
        "COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase, " +
        "COUNT(*) FILTER (WHERE event_type = 'signup') AS signup, " +
        "COUNT(*) FILTER (WHERE event_type = 'view') AS view " +
        "FROM events GROUP BY user_id ORDER BY user_id"),

    // exact-decimal n/Σv/Σv² through the stats_corr via-string bridge;
    // mean/std/z arithmetic mirrors valueAnomalies op for op
    // (count desc, value asc) tie order replayed via ROW_NUMBER
    "agg_mode" ->
      ("WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2), " +
        "m AS (SELECT l_returnflag, q AS mode_qty, cnt AS mode_n FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag " +
        "ORDER BY cnt DESC, q) AS rn FROM c) WHERE rn = 1), " +
        "t AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c GROUP BY 1) " +
        "SELECT m.l_returnflag, m.mode_qty, CAST(m.mode_n AS BIGINT) AS mode_n, " +
        "t.n_rows, CAST(m.mode_n AS DOUBLE) / t.n_rows AS mode_share " +
        "FROM m JOIN t USING (l_returnflag) ORDER BY m.l_returnflag"),

    // top-k by (n desc, user_id) replayed; one division
    "event_power_users" ->
      ("WITH p AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS topk_users, " +
        "CAST(SUM(n) AS BIGINT) AS topk_events FROM (" +
        "SELECT n FROM p ORDER BY n DESC, user_id LIMIT 100)), " +
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, " +
        "CAST(SUM(n) AS BIGINT) AS n_events FROM p) " +
        "SELECT a.n_users, a.n_events, t.topk_users, t.topk_events, " +
        "CAST(t.topk_events AS DOUBLE) / a.n_events AS topk_share FROM a, t"),

    // lag replay: conditional-min firsts, md5-reservoir + nearest-rank
    "event_conversion_lag" ->
      ("WITH us AS (SELECT user_id, event_type, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events), " +
        "pu AS (SELECT user_id, " +
        "MIN(CASE WHEN event_type = 'signup' THEN t END) AS t_from FROM us GROUP BY 1), " +
        "ft AS (SELECT u.user_id, MIN(u.t) AS t_to FROM us u " +
        "JOIN pu ON u.user_id = pu.user_id " +
        "WHERE u.event_type = 'purchase' AND pu.t_from IS NOT NULL " +
        "AND u.t >= pu.t_from GROUP BY 1), " +
        "lg AS (SELECT pu.user_id, CASE WHEN pu.t_from IS NOT NULL " +
        "AND ft.t_to IS NOT NULL THEN ft.t_to - pu.t_from END AS lag_us " +
        "FROM pu LEFT JOIN ft USING (user_id)), " +
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, " +
        "CAST(COUNT(lag_us) AS BIGINT) AS n_converted FROM lg), " +
        "kr AS (SELECT v, row_number() OVER (ORDER BY v) AS vr, " +
        "COUNT(*) OVER () AS n FROM (SELECT CAST(lag_us AS DOUBLE) AS v FROM (" +
        "SELECT lag_us, row_number() OVER (ORDER BY " +
        "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 7)) AS BIGINT), " +
        "CAST(lag_us AS DOUBLE)) AS rn FROM lg WHERE lag_us IS NOT NULL) " +
        "WHERE rn <= 256)), " +
        "q AS (SELECT MAX(CASE WHEN vr = (25*n+99)//100 THEN v END) AS p25, " +
        "MAX(CASE WHEN vr = (50*n+99)//100 THEN v END) AS p50, " +
        "MAX(CASE WHEN vr = (75*n+99)//100 THEN v END) AS p75 FROM kr) " +
        "SELECT c.n_users, c.n_converted, q.p25 AS p25_lag_us, " +
        "q.p50 AS p50_lag_us, q.p75 AS p75_lag_us FROM c, q"),

    // Gram + 2 unrolled matvecs + sign-split truncating rescale
    // (sign·((|y|·256) div m): truncate ≡ floor on the nonneg part, so
    // Spark div and DuckDB // agree); quadratic form in HUGEINT
    "embed_top_eigvec" ->
      (s"WITH $sqlQuantCte, " +
        "nf AS (SELECT vec_id, v FROM n WHERE len(v) = 64), " +
        "g AS (SELECT ii.i AS i, jj.j AS j, " +
        "CAST(SUM(v[ii.i + 1] * v[jj.j + 1]) AS BIGINT) AS gij " +
        "FROM nf, range(0, 64) ii(i), range(0, 64) jj(j) GROUP BY 1, 2), " +
        "x0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1 AS BIGINT) AS x), " +
        "y1 AS (SELECT g.i, CAST(SUM(g.gij * x0.x) AS BIGINT) AS y " +
        "FROM g JOIN x0 ON g.j = x0.j GROUP BY 1), " +
        "m1 AS (SELECT MAX(ABS(y)) AS m FROM y1), " +
        "x1 AS (SELECT y1.i AS j, CAST((CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END) * " +
        "((ABS(y) * 256) // GREATEST(m, 1)) AS BIGINT) AS x FROM y1, m1), " +
        "y2 AS (SELECT g.i, CAST(SUM(g.gij * x1.x) AS BIGINT) AS y " +
        "FROM g JOIN x1 ON g.j = x1.j GROUP BY 1), " +
        "m2 AS (SELECT MAX(ABS(y)) AS m FROM y2), " +
        "x2 AS (SELECT y2.i AS j, CAST((CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END) * " +
        "((ABS(y) * 256) // GREATEST(m, 1)) AS BIGINT) AS x FROM y2, m2), " +
        "num AS (SELECT CAST(SUM(CAST(g.gij AS HUGEINT) * xi.x * xj.x) AS DOUBLE) AS num " +
        "FROM g JOIN x2 xi ON g.i = xi.j JOIN x2 xj ON g.j = xj.j), " +
        "den AS (SELECT CAST(SUM(x * x) AS BIGINT) AS den FROM x2) " +
        "SELECT CAST(x2.j AS BIGINT) AS comp, x2.x AS x_val, " +
        "num.num / CAST(den.den AS DOUBLE) AS rayleigh " +
        "FROM x2, num, den ORDER BY comp"),

    // sign-balance replay: the quantized grid unnested per dimension,
    // exact censuses, truncating ppm
    "embed_sign_balance" ->
      (s"WITH $sqlQuantCte, " +
        "nf AS (SELECT vec_id, v FROM n WHERE len(v) = 64), " +
        "px AS (SELECT dd.i AS dim, v[dd.i + 1] AS x " +
        "FROM nf, range(0, 64) dd(i)) " +
        "SELECT CAST(dim AS BIGINT) AS dim, " +
        "CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg, " +
        "CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero, " +
        "CAST((SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) * 1000000) // " +
        "nullif(COUNT(*), 0) AS BIGINT) AS pos_ppm " +
        "FROM px GROUP BY 1 ORDER BY dim"),

    // isotropy replay: the eigvec CTEs + exact Σ‖v‖² trace, one
    // further IEEE division for the λ₁ share
    "embed_isotropy" ->
      (s"WITH $sqlQuantCte, " +
        "nf AS (SELECT vec_id, v FROM n WHERE len(v) = 64), " +
        "tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(COALESCE(SUM(list_sum(list_transform(v, x -> x*x))), 0) AS BIGINT) AS trace FROM nf), " +
        "g AS (SELECT ii.i AS i, jj.j AS j, " +
        "CAST(SUM(v[ii.i + 1] * v[jj.j + 1]) AS BIGINT) AS gij " +
        "FROM nf, range(0, 64) ii(i), range(0, 64) jj(j) GROUP BY 1, 2), " +
        "x0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1 AS BIGINT) AS x), " +
        "y1 AS (SELECT g.i, CAST(SUM(g.gij * x0.x) AS BIGINT) AS y " +
        "FROM g JOIN x0 ON g.j = x0.j GROUP BY 1), " +
        "m1 AS (SELECT MAX(ABS(y)) AS m FROM y1), " +
        "x1 AS (SELECT y1.i AS j, CAST((CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END) * " +
        "((ABS(y) * 256) // GREATEST(m, 1)) AS BIGINT) AS x FROM y1, m1), " +
        "y2 AS (SELECT g.i, CAST(SUM(g.gij * x1.x) AS BIGINT) AS y " +
        "FROM g JOIN x1 ON g.j = x1.j GROUP BY 1), " +
        "m2 AS (SELECT MAX(ABS(y)) AS m FROM y2), " +
        "x2 AS (SELECT y2.i AS j, CAST((CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END) * " +
        "((ABS(y) * 256) // GREATEST(m, 1)) AS BIGINT) AS x FROM y2, m2), " +
        "num AS (SELECT CAST(SUM(CAST(g.gij AS HUGEINT) * xi.x * xj.x) AS DOUBLE) AS num " +
        "FROM g JOIN x2 xi ON g.i = xi.j JOIN x2 xj ON g.j = xj.j), " +
        "den AS (SELECT CAST(SUM(x * x) AS BIGINT) AS den FROM x2) " +
        "SELECT tr.n_vecs, tr.trace, " +
        "num.num / CAST(den.den AS DOUBLE) AS rayleigh, " +
        "(num.num / CAST(den.den AS DOUBLE)) / CAST(tr.trace AS DOUBLE) AS top_share " +
        "FROM tr, num, den"),

    // exact-integer norm bins, priceHistogram replay shape
    // per-dim replay: 1-indexed list subscripts over the shared
    // quantized grid, surfaced as the engine's 0-indexed dim
    "embed_dim_stats" ->
      ("WITH q AS (SELECT list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings), " +
        "d AS (SELECT t.pos, q.v[t.pos] AS val FROM q, " +
        "(SELECT unnest(generate_series(1, 64)) AS pos) t " +
        "WHERE q.v IS NOT NULL AND len(q.v) = 64), " +
        "a AS (SELECT pos - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(val) AS BIGINT) AS sv, CAST(SUM(val*val) AS BIGINT) AS svv, " +
        "MIN(val) AS v_min, MAX(val) AS v_max FROM d GROUP BY 1) " +
        "SELECT CAST(dim AS BIGINT) AS dim, n, sv, svv, v_min, v_max, " +
        "CAST(n*svv - sv*sv AS BIGINT) AS var_num, v_min = v_max AS dead " +
        "FROM a ORDER BY dim"),

    "embed_norm_hist" ->
      ("WITH q AS (SELECT CAST(list_sum(list_transform(" +
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)), " +
        "x -> x*x)) AS BIGINT) AS nrm FROM embeddings WHERE embedding IS NOT NULL), " +
        "b AS (SELECT MIN(nrm) AS lo, MAX(nrm) AS hi FROM q) " +
        "SELECT CAST(((nrm - lo) * 16) // (hi - lo + 1) AS BIGINT) AS bucket, " +
        "COUNT(*) AS n, MIN(nrm) AS nrm_min, MAX(nrm) AS nrm_max " +
        "FROM q, b GROUP BY 1 ORDER BY 1"),

    // cells + the SAME ordered fold (list(... ORDER BY) adds in the
    // identical sequence as the sorted-array aggregate)
    "stats_chi2" ->
      ("WITH obs AS (SELECT event_type, user_id % 2 AS arm, " +
        "CAST(COUNT(*) AS BIGINT) AS o FROM events GROUP BY 1, 2), " +
        "cells AS (SELECT g.event_type, g.arm, COALESCE(obs.o, 0) AS o FROM " +
        "(SELECT et.event_type, ar.arm FROM " +
        "(SELECT DISTINCT event_type FROM obs) et, " +
        "(SELECT DISTINCT arm FROM obs) ar) g " +
        "LEFT JOIN obs ON g.event_type = obs.event_type AND g.arm = obs.arm), " +
        "r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), " +
        "c AS (SELECT arm, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells), " +
        "t AS (SELECT cells.event_type, cells.arm, cells.o, " +
        "CAST(r.r * c.c AS DOUBLE) / nn.n AS expected, " +
        "(CAST(cells.o * nn.n - r.r * c.c AS DOUBLE) * " +
        "CAST(cells.o * nn.n - r.r * c.c AS DOUBLE)) / " +
        "CAST(r.r * c.c * nn.n AS DOUBLE) AS term " +
        "FROM cells JOIN r USING (event_type) JOIN c USING (arm), nn), " +
        "s AS (SELECT list_reduce(list(term ORDER BY event_type, arm), " +
        "(a, b) -> a + b) AS chi2 FROM t) " +
        "SELECT t.event_type, t.arm, t.o, t.expected, t.term, s.chi2 " +
        "FROM t, s ORDER BY t.event_type, t.arm"),

    // Cramér's V replay: the χ² CTEs verbatim + the sqrt tail (sqrt is
    // correctly rounded — the Kendall precedent)
    "stats_cramers_v" ->
      ("WITH obs AS (SELECT event_type, user_id % 2 AS arm, " +
        "CAST(COUNT(*) AS BIGINT) AS o FROM events GROUP BY 1, 2), " +
        "cells AS (SELECT g.event_type, g.arm, COALESCE(obs.o, 0) AS o FROM " +
        "(SELECT et.event_type, ar.arm FROM " +
        "(SELECT DISTINCT event_type FROM obs) et, " +
        "(SELECT DISTINCT arm FROM obs) ar) g " +
        "LEFT JOIN obs ON g.event_type = obs.event_type AND g.arm = obs.arm), " +
        "r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), " +
        "c AS (SELECT arm, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n, " +
        "CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT arm) AS BIGINT) AS n_cols FROM cells), " +
        "t AS (SELECT cells.event_type, cells.arm, " +
        "(CAST(cells.o * nn.n - r.r * c.c AS DOUBLE) * " +
        "CAST(cells.o * nn.n - r.r * c.c AS DOUBLE)) / " +
        "CAST(r.r * c.c * nn.n AS DOUBLE) AS term " +
        "FROM cells JOIN r USING (event_type) JOIN c USING (arm), nn), " +
        "s AS (SELECT list_reduce(list(term ORDER BY event_type, arm), " +
        "(a, b) -> a + b) AS chi2 FROM t) " +
        "SELECT nn.n, nn.n_rows, nn.n_cols, s.chi2, " +
        "CASE WHEN nn.n = 0 OR least(nn.n_rows, nn.n_cols) <= 1 THEN NULL " +
        "ELSE sqrt(s.chi2 / CAST(nn.n * (least(nn.n_rows, nn.n_cols) - 1) " +
        "AS DOUBLE)) END AS cramers_v FROM nn, s"),

    // higher-moments replay: exact decimal power sums, the identical
    // fixed-order double combination via the string bridge, HUGEINT
    // exact division for the mean
    "stats_moments" ->
      ("WITH v AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c " +
        "FROM events WHERE event_type IS NOT NULL), " +
        "a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(CAST(c AS DECIMAL(38,0))) AS s1, " +
        "SUM(CAST(c AS DECIMAL(38,0)) * c) AS s2, " +
        "SUM(CAST(c AS DECIMAL(38,0)) * c * c) AS s3, " +
        "SUM(CAST(c AS DECIMAL(38,0)) * c * c * c) AS s4 FROM v GROUP BY 1), " +
        "m AS (SELECT event_type, n, s1, CAST(n AS DOUBLE) AS nd, " +
        "CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d, " +
        "CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d, " +
        "CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS s3d, " +
        "CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS s4d FROM a), " +
        "x AS (SELECT event_type, n, s1, nd, " +
        "nd * s2d - s1d * s1d AS m2x, " +
        "nd * nd * s3d - 3.0 * nd * s1d * s2d + 2.0 * s1d * s1d * s1d AS m3x, " +
        "nd * nd * nd * s4d - 4.0 * nd * nd * s1d * s3d " +
        "+ 6.0 * nd * s1d * s1d * s2d - 3.0 * s1d * s1d * s1d * s1d AS m4x " +
        "FROM m) " +
        "SELECT event_type, n, " +
        "CAST(CAST(s1 * 1000000 AS HUGEINT) // nullif(n, 0) AS BIGINT) " +
        "AS mean_cents_ppm, " +
        "CASE WHEN m2x <= 0.0 THEN NULL ELSE (m3x / nd / nd / nd) / " +
        "((m2x / nd / nd) * sqrt(m2x / nd / nd)) END AS skewness, " +
        "CASE WHEN m2x <= 0.0 THEN NULL ELSE (m4x / nd / nd / nd / nd) / " +
        "((m2x / nd / nd) * (m2x / nd / nd)) - 3.0 END AS ex_kurtosis " +
        "FROM x ORDER BY event_type"),

    // Cohen's d replay: exact moment sums, the identical fixed-order
    // double tree for pooled variance and the effect size
    "stats_cohens_d" ->
      ("WITH v AS (SELECT event_type, user_id % 2 AS arm, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c " +
        "FROM events WHERE event_type IS NOT NULL), " +
        "a AS (SELECT event_type, " +
        "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
        "COALESCE(SUM(CASE WHEN arm = 0 THEN CAST(c AS DECIMAL(38,0)) END), 0) AS s0, " +
        "COALESCE(SUM(CASE WHEN arm = 0 THEN CAST(c AS DECIMAL(38,0)) * c END), 0) AS q0, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "COALESCE(SUM(CASE WHEN arm = 1 THEN CAST(c AS DECIMAL(38,0)) END), 0) AS s1, " +
        "COALESCE(SUM(CASE WHEN arm = 1 THEN CAST(c AS DECIMAL(38,0)) * c END), 0) AS q1 " +
        "FROM v GROUP BY 1), " +
        "dd AS (SELECT event_type, n0, n1, " +
        "CAST(n0 AS DOUBLE) AS n0d, CAST(n1 AS DOUBLE) AS n1d, " +
        "CAST(CAST(s0 AS VARCHAR) AS DOUBLE) AS s0d, " +
        "CAST(CAST(q0 AS VARCHAR) AS DOUBLE) AS q0d, " +
        "CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d, " +
        "CAST(CAST(q1 AS VARCHAR) AS DOUBLE) AS q1d FROM a) " +
        "SELECT event_type, n0, n1, " +
        "CASE WHEN n0 < 2 OR n1 < 2 THEN NULL " +
        "WHEN ((q0d - s0d * s0d / n0d) + (q1d - s1d * s1d / n1d)) / " +
        "(n0d + n1d - 2.0) <= 0.0 THEN NULL " +
        "ELSE (s1d / n1d - s0d / n0d) / " +
        "sqrt(((q0d - s0d * s0d / n0d) + (q1d - s1d * s1d / n1d)) / " +
        "(n0d + n1d - 2.0)) END AS cohens_d " +
        "FROM dd ORDER BY event_type"),

    // trimmed-mean replay: value-grouped cumulative ranks, clipped
    // group contributions, HUGEINT exact division
    "stats_trimmed_mean" ->
      ("WITH v AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c " +
        "FROM events WHERE event_type IS NOT NULL), " +
        "g AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY 1, 2), " +
        "w AS (SELECT event_type, c, m, CAST(SUM(m) OVER (PARTITION BY event_type " +
        "ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM g), " +
        "t AS (SELECT event_type, CAST(SUM(m) AS BIGINT) AS n FROM g GROUP BY 1), " +
        "x AS (SELECT w.event_type, c, m, cum, t.n, t.n // 10 AS k " +
        "FROM w JOIN t USING (event_type)), " +
        "y AS (SELECT event_type, n, k, c, " +
        "m - greatest(0, least(m, k - (cum - m))) " +
        "- greatest(0, least(m, k - (n - cum))) AS keep FROM x), " +
        "z AS (SELECT event_type, n, k, " +
        "SUM(CAST(c AS DECIMAL(38,0)) * keep) AS tsum FROM y GROUP BY 1, 2, 3) " +
        "SELECT event_type, n, k AS k_trim, n - 2 * k AS trimmed_n, " +
        "CAST(CAST(tsum * 1000000 AS HUGEINT) // nullif(n - 2 * k, 0) " +
        "AS BIGINT) AS trimmed_mean_ppm FROM z ORDER BY event_type"),

    // band-join replay: the naive inequality join IS the oracle (the
    // engine side must never plan it) — same band, same counts
    "join_band" ->
      ("WITH a AS (SELECT event_id AS a_id, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS ca " +
        "FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT event_id AS b_id, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cb " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT (ca // 50) * 50 AS band_lo_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM a JOIN b ON abs(ca - cb) <= 50 " +
        "GROUP BY 1 ORDER BY 1"),

    // reorder-rate replay: distinct order counts per (customer, part),
    // brand rollup, exact ppm
    "order_reorder_rate" ->
      ("WITH pr AS (SELECT o_custkey, l_partkey, " +
        "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), " +
        "b AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_reordered FROM pr JOIN part ON l_partkey = p_partkey GROUP BY 1) " +
        "SELECT p_brand, n_pairs, n_reordered, " +
        "(n_reordered * 1000000) // nullif(n_pairs, 0) AS reorder_ppm " +
        "FROM b ORDER BY p_brand"),

    // priority-mix replay: month × priority counts + per-month shares
    "order_priority_mix" ->
      ("WITH c AS (SELECT date_trunc('month', o_orderdate) " +
        "AS month, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders " +
        "FROM orders GROUP BY 1, 2), " +
        "t AS (SELECT month, CAST(SUM(n_orders) AS BIGINT) AS t FROM c GROUP BY 1) " +
        "SELECT c.month, c.o_orderpriority, c.n_orders, " +
        "(c.n_orders * 1000000) // nullif(t.t, 0) AS share_ppm " +
        "FROM c JOIN t USING (month) ORDER BY 1, 2"),

    // type-diversity replay: per-(user, day) distinct types — the day
    // grain keeps the histogram non-degenerate (lifetime collapses to
    // the full type domain)
    "event_type_diversity" ->
      ("WITH u AS (SELECT user_id, date_trunc('day', ts) AS day, " +
        "CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types " +
        "FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
        "h AS (SELECT n_types, CAST(COUNT(*) AS BIGINT) AS n_user_days FROM u GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(n_user_days) AS BIGINT) AS t FROM h) " +
        "SELECT n_types, n_user_days, (n_user_days * 1000000) // nullif(t, 0) " +
        "AS share_ppm FROM h, t ORDER BY n_types"),

    // dup-rate replay: (source, md5) multiplicities, per-source rollup
    "quality_dup_rate" ->
      ("WITH pt AS (SELECT source, md5(text) AS h, " +
        "CAST(COUNT(*) AS BIGINT) AS m FROM documents GROUP BY 1, 2), " +
        "g AS (SELECT source, CAST(SUM(m) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_distinct FROM pt GROUP BY 1) " +
        "SELECT source, n_docs, n_distinct, " +
        "n_docs - n_distinct AS n_redundant, " +
        "((n_docs - n_distinct) * 1000000) // nullif(n_docs, 0) AS dup_ppm " +
        "FROM g ORDER BY source"),

    // Adamic–Adar replay: id-ordered triangle enumeration (per-pair
    // donations are orientation-invariant), bit-length weights
    "graph_adamic_adar" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
        "(SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) GROUP BY 1), " +
        "tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z FROM und ab " +
        "JOIN und bc ON ab.b = bc.a " +
        "JOIN und ac ON ac.a = ab.a AND ac.b = bc.b), " +
        "don AS (SELECT x AS a, y AS b, z AS cnb FROM tri " +
        "UNION ALL SELECT x, z, y FROM tri UNION ALL SELECT y, z, x FROM tri) " +
        "SELECT don.a, don.b, CAST(COUNT(*) AS BIGINT) AS cn, " +
        "CAST(SUM(1000000 // CAST(length(bin(deg.deg)) AS BIGINT)) AS BIGINT) " +
        "AS aa_score_ppm " +
        "FROM don JOIN deg ON don.cnb = deg.n GROUP BY 1, 2 " +
        "ORDER BY aa_score_ppm DESC, a, b LIMIT 20"),

    // RA replay: the AA donation shape with the exact 1/deg ppm weight
    "graph_resource_alloc" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
        "(SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) GROUP BY 1), " +
        "tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z FROM und ab " +
        "JOIN und bc ON ab.b = bc.a " +
        "JOIN und ac ON ac.a = ab.a AND ac.b = bc.b), " +
        "don AS (SELECT x AS a, y AS b, z AS cnb FROM tri " +
        "UNION ALL SELECT x, z, y FROM tri UNION ALL SELECT y, z, x FROM tri) " +
        "SELECT don.a, don.b, CAST(COUNT(*) AS BIGINT) AS cn, " +
        "CAST(SUM(1000000 // deg.deg) AS BIGINT) AS ra_score_ppm " +
        "FROM don JOIN deg ON don.cnb = deg.n GROUP BY 1, 2 " +
        "ORDER BY ra_score_ppm DESC, a, b LIMIT 20"),

    // eccentricity replay: the closeness recursion with MAX(min-depth)
    // per seed instead of the sum
    "graph_ecc_seeds" ->
      ("WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p != b.p GROUP BY 1, 2), " +
        "und AS (SELECT a, b FROM wt WHERE w >= 2), " +
        "reach(seed, node, depth) AS (" +
        "SELECT p, p, CAST(0 AS BIGINT) FROM (SELECT DISTINCT p FROM it) " +
        "WHERE substring(md5(CAST(p AS VARCHAR)), 1, 2) = '00' " +
        "UNION " +
        "SELECT r.seed, e.b, r.depth + 1 FROM reach r JOIN und e ON e.a = r.node " +
        "WHERE r.depth < 4), " +
        "md AS (SELECT seed, node, MIN(depth) AS depth FROM reach GROUP BY 1, 2) " +
        "SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached, " +
        "CAST(MAX(depth) AS BIGINT) AS ecc, " +
        "MAX(depth) = 4 AS at_horizon " +
        "FROM md GROUP BY seed ORDER BY seed"),

    // transitivity replay: the AA edge/degree/triangle CTEs + two
    // bounded aggregates, exact ppm closure ratio
    "graph_transitivity" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
        "(SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) GROUP BY 1), " +
        "tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z FROM und ab " +
        "JOIN und bc ON ab.b = bc.a " +
        "JOIN und ac ON ac.a = ab.a AND ac.b = bc.b), " +
        "w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
        "CAST(COALESCE(SUM((deg * (deg - 1)) // 2), 0) AS BIGINT) AS n_wedges FROM deg), " +
        "ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und), " +
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri) " +
        "SELECT w.n_nodes, ne.n_edges, w.n_wedges, nt.n_triangles, " +
        "CAST((nt.n_triangles * 3000000) // nullif(w.n_wedges, 0) AS BIGINT) " +
        "AS transitivity_ppm FROM w, ne, nt"),

    // Mood's-median replay: k-th order statistic for the grand median,
    // then the chi² CTE doctrine over the k×2 table (HUGEINT residual
    // headroom — row·col·n overflows int64 at sf ≥ 1 line counts)
    "stats_mood_median" ->
      ("WITH g AS (SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1, 2), " +
        "m AS (SELECT v, SUM(SUM(cnt)) OVER (ORDER BY v) AS cum FROM g GROUP BY v), " +
        "tot AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM g), " +
        "med AS (SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med FROM m, tot), " +
        "cells0 AS (SELECT grp, " +
        "CAST(COALESCE(SUM(CASE WHEN v > med THEN cnt ELSE 0 END), 0) AS BIGINT) AS oabove, " +
        "CAST(COALESCE(SUM(CASE WHEN v <= med THEN cnt ELSE 0 END), 0) AS BIGINT) AS ole " +
        "FROM g, med GROUP BY grp), " +
        "cells AS (SELECT grp, '1_above' AS side, oabove AS o FROM cells0 " +
        "UNION ALL SELECT grp, '2_le', ole FROM cells0), " +
        "r AS (SELECT grp, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), " +
        "c AS (SELECT side, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells), " +
        "t AS (SELECT cells.grp, cells.side, cells.o, " +
        "CAST(r.r * c.c AS DOUBLE) / nn.n AS expected, " +
        "(CAST(CAST(cells.o AS HUGEINT) * nn.n - CAST(r.r AS HUGEINT) * c.c AS DOUBLE) * " +
        "CAST(CAST(cells.o AS HUGEINT) * nn.n - CAST(r.r AS HUGEINT) * c.c AS DOUBLE)) / " +
        "CAST(CAST(r.r AS HUGEINT) * c.c * nn.n AS DOUBLE) AS term " +
        "FROM cells JOIN r USING (grp) JOIN c USING (side), nn), " +
        "s AS (SELECT list_reduce(list(term ORDER BY grp, side), " +
        "(a, b) -> a + b) AS chi2 FROM t) " +
        "SELECT t.grp AS l_returnflag, t.side, t.o, t.expected, t.term, " +
        "s.chi2 FROM t, s ORDER BY t.grp, t.side"),

    // harmonic replay: the ecc recursion with Σ 12//d per seed
    "graph_harmonic_seeds" ->
      ("WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p != b.p GROUP BY 1, 2), " +
        "und AS (SELECT a, b FROM wt WHERE w >= 2), " +
        "reach(seed, node, depth) AS (" +
        "SELECT p, p, CAST(0 AS BIGINT) FROM (SELECT DISTINCT p FROM it) " +
        "WHERE substring(md5(CAST(p AS VARCHAR)), 1, 2) = '00' " +
        "UNION " +
        "SELECT r.seed, e.b, r.depth + 1 FROM reach r JOIN und e ON e.a = r.node " +
        "WHERE r.depth < 4), " +
        "md AS (SELECT seed, node, MIN(depth) AS depth FROM reach GROUP BY 1, 2) " +
        "SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached, " +
        "CAST(COALESCE(SUM(CASE WHEN depth > 0 THEN 12 // depth ELSE 0 END), 0) AS BIGINT) " +
        "AS harmonic_x12 " +
        "FROM md GROUP BY seed ORDER BY seed"),

    // Katz replay: 4 unrolled sparse matvecs over the strong-tie
    // subgraph, bit-shift decay weights, top-30
    "graph_katz" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p != b.p GROUP BY 1, 2), " +
        "und AS (SELECT a, b FROM wt WHERE w >= 2), " +
        "c1 AS (SELECT b AS node, CAST(COUNT(*) AS BIGINT) AS cnt FROM und GROUP BY 1), " +
        "c2 AS (SELECT e.b AS node, CAST(SUM(c1.cnt) AS BIGINT) AS cnt " +
        "FROM und e JOIN c1 ON e.a = c1.node GROUP BY 1), " +
        "c3 AS (SELECT e.b AS node, CAST(SUM(c2.cnt) AS BIGINT) AS cnt " +
        "FROM und e JOIN c2 ON e.a = c2.node GROUP BY 1), " +
        "c4 AS (SELECT e.b AS node, CAST(SUM(c3.cnt) AS BIGINT) AS cnt " +
        "FROM und e JOIN c3 ON e.a = c3.node GROUP BY 1), " +
        "sc AS (SELECT node, CAST(SUM(s) AS BIGINT) AS katz_x16 FROM (" +
        "SELECT node, cnt * 8 AS s FROM c1 " +
        "UNION ALL SELECT node, cnt * 4 FROM c2 " +
        "UNION ALL SELECT node, cnt * 2 FROM c3 " +
        "UNION ALL SELECT node, cnt FROM c4) GROUP BY 1) " +
        "SELECT node, katz_x16 FROM sc ORDER BY katz_x16 DESC, node LIMIT 30"),

    // rich-club replay: octave thresholds off bit lengths, exact φ ppm
    "graph_rich_club" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
        "(SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) GROUP BY 1), " +
        "degb AS (SELECT n, CAST(length(bin(deg)) AS BIGINT) AS t FROM deg), " +
        "nx AS (SELECT unnest(range(1, t)) AS t FROM degb WHERE t > 1), " +
        "nodesAt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nx GROUP BY 1), " +
        "eg AS (SELECT least(da.t, db.t) AS tmin FROM und " +
        "JOIN degb da ON und.a = da.n JOIN degb db ON und.b = db.n), " +
        "ex AS (SELECT unnest(range(1, tmin)) AS t FROM eg WHERE tmin > 1), " +
        "edgesAt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_edges FROM ex GROUP BY 1) " +
        "SELECT n.t, CAST((1::BIGINT << t) - 1 AS BIGINT) AS kmin, " +
        "n.n_nodes, CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges, " +
        "(COALESCE(e.n_edges, 0) * 2000000) // " +
        "nullif(n.n_nodes * (n.n_nodes - 1), 0) AS phi_ppm " +
        "FROM nodesAt n LEFT JOIN edgesAt e USING (t) ORDER BY n.t"),

    // OLS replay: exact moments, same slope/intercept tree
    "stats_regression" ->
      ("WITH a AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy_cents, " +
        "CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(x*y) AS BIGINT) AS sxy " +
        "FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y " +
        "FROM lineitem) GROUP BY 1) " +
        "SELECT l_returnflag, n, sx, sy_cents, sxx, sxy, " +
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy_cents AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope, " +
        "(CAST(sy_cents AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy_cents AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n AS intercept " +
        "FROM a ORDER BY l_returnflag"),

    // Welch replay: identical cents bridge, one conditional-aggregation
    // pass, the SAME operation tree for the statistic — fixed operand
    // order makes the doubles bit-identical
    "event_ab_test" ->
      ("WITH v AS (SELECT event_type, user_id % 2 AS arm, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM events), " +
        "a AS (SELECT event_type, " +
        "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS s0_cents, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS s1_cents, " +
        "CAST(SUM(CASE WHEN arm = 0 THEN c * c ELSE 0 END) AS BIGINT) AS q0, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN c * c ELSE 0 END) AS BIGINT) AS q1 " +
        "FROM v GROUP BY 1) " +
        "SELECT event_type, n0, n1, s0_cents, s1_cents, q0, q1, " +
        "(CAST(s1_cents AS DOUBLE) / n1 - CAST(s0_cents AS DOUBLE) / n0) / " +
        "sqrt(((CAST(q1 AS DOUBLE) - CAST(s1_cents AS DOUBLE) * CAST(s1_cents AS DOUBLE) / n1) / (n1 - 1)) / n1 + " +
        "((CAST(q0 AS DOUBLE) - CAST(s0_cents AS DOUBLE) * CAST(s0_cents AS DOUBLE) / n0) / (n0 - 1)) / n0) AS t_stat " +
        "FROM a ORDER BY event_type"),

    // day − row_number islands over distinct (user, day)
    "event_streaks" ->
      ("WITH d AS (SELECT DISTINCT user_id, " +
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day FROM events), " +
        "i AS (SELECT user_id, day - row_number() OVER " +
        "(PARTITION BY user_id ORDER BY day) AS island FROM d), " +
        "l AS (SELECT user_id, island, COUNT(*) AS len FROM i GROUP BY 1, 2), " +
        "s AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS streak_days FROM l GROUP BY 1) " +
        "SELECT streak_days, COUNT(*) AS n_users FROM s GROUP BY 1 ORDER BY 1"),

    // isodow mirrors Spark's weekday()+1; hours UTC
    "event_heatmap" ->
      ("WITH k AS (SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow_iso, " +
        "CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour, user_id FROM events), " +
        "c AS (SELECT dow_iso, hour, COUNT(*) AS n_events FROM k GROUP BY 1, 2), " +
        "u AS (SELECT dow_iso, hour, CAST(COUNT(*) AS BIGINT) AS n_users FROM (" +
        "SELECT DISTINCT dow_iso, hour, user_id FROM k) GROUP BY 1, 2) " +
        "SELECT c.dow_iso, c.hour, c.n_events, u.n_users " +
        "FROM c JOIN u USING (dow_iso, hour) ORDER BY 1, 2"),

    // exact distinct actives on UTC truncations; divisions mirrored
    // CUSUM replay: same grid + recurrence as a recursive CTE
    "event_cusum" ->
      ("WITH RECURSIVE daily AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "s AS (SELECT ROW_NUMBER() OVER (ORDER BY g.day) AS i, g.day AS day, " +
        "CAST(COALESCE(d.c, 0) AS BIGINT) AS x FROM grid g LEFT JOIN daily d USING (day)), " +
        "m AS (SELECT CAST(SUM(x) // COUNT(*) AS BIGINT) AS mean FROM s), " +
        "f AS (SELECT i, day, x, greatest(CAST(0 AS BIGINT), x - (SELECT mean FROM m)) AS cs " +
        "FROM s WHERE i = 1 " +
        "UNION ALL SELECT s.i, s.day, s.x, " +
        "greatest(CAST(0 AS BIGINT), f.cs + s.x - (SELECT mean FROM m)) AS cs " +
        "FROM f JOIN s ON s.i = f.i + 1) " +
        "SELECT day, x AS n_events, cs AS cusum, " +
        "cs > 5 * (SELECT mean FROM m) AS alarm FROM f ORDER BY day"),

    // Inter-arrival replay: same ordered window, bin() bit-length
    "event_interarrival_hist" ->
      ("WITH g AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) - " +
        "LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id " +
        "ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap FROM events) " +
        "SELECT CAST(length(bin(gap)) AS INT) AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_gaps, " +
        "CAST(MIN(gap) AS BIGINT) AS gap_min_us, " +
        "CAST(MAX(gap) AS BIGINT) AS gap_max_us " +
        "FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1"),

    // New-vs-returning replay: first day ever vs distinct activity
    "event_new_returning" ->
      ("WITH p AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, " +
        "user_id FROM events), " +
        "f AS (SELECT user_id, MIN(day) AS fday FROM p GROUP BY 1) " +
        "SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users, " +
        "CAST(SUM(CASE WHEN fday = day THEN 1 ELSE 0 END) AS BIGINT) AS new_users, " +
        "CAST(COUNT(*) - SUM(CASE WHEN fday = day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users, " +
        "CAST(((COUNT(*) - SUM(CASE WHEN fday = day THEN 1 ELSE 0 END)) * 1000000) " +
        "// nullif(COUNT(*), 0) AS BIGINT) AS returning_ppm " +
        "FROM p JOIN f USING (user_id) GROUP BY day ORDER BY day"),

    // Mix-drift replay: same pivoted counts + the verbatim shared tail
    "event_mix_drift" -> {
      val ks = Relational.AnovaTypes.map(_.replaceAll("[^a-z]", ""))
      val ow = ks.map(k =>
        s"CAST(SUM(CASE WHEN event_type = '$k' THEN 1 ELSE 0 END) AS BIGINT) AS o_$k")
        .mkString(", ")
      val gw = ks.map(k =>
        s"CAST(SUM(CASE WHEN event_type = '$k' THEN 1 ELSE 0 END) AS BIGINT) AS g_$k")
        .mkString(", ")
      "WITH k AS (SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week, " +
        "event_type FROM events), " +
        s"w AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_w, $ow FROM k GROUP BY 1), " +
        s"g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot, $gw FROM k) " +
        "SELECT week, n_w AS n_events, " +
        Relational.MixDriftTail + " AS chi2 " +
        "FROM w CROSS JOIN g ORDER BY week"
    },

    // SRM replay: same distinct-users 2-cell fold
    "event_srm_check" ->
      ("WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM u) " +
        "SELECT n_users, n0, n1, " +
        "CAST((abs(n0 - n1) * 1000000) // nullif(n_users, 0) AS BIGINT) AS imbalance_ppm, " +
        "CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / nullif(n_users, 0) AS srm_chi2 FROM a"),

    // Churn replay: shifted-week self join over distinct pairs
    "event_churn" ->
      ("WITH mu AS (SELECT DISTINCT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week, " +
        "user_id FROM events), " +
        "a AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS actives FROM mu GROUP BY 1), " +
        "pa AS (SELECT week + INTERVAL 7 DAY AS week, actives AS prev_actives FROM a), " +
        "r AS (SELECT cur.week AS week, CAST(COUNT(*) AS BIGINT) AS retained " +
        "FROM mu cur JOIN (SELECT week + INTERVAL 7 DAY AS week, user_id FROM mu) prev " +
        "ON cur.week = prev.week AND cur.user_id = prev.user_id GROUP BY 1) " +
        "SELECT pa.week AS week, prev_actives, COALESCE(retained, 0) AS retained, " +
        "prev_actives - COALESCE(retained, 0) AS churned, " +
        "CAST(((prev_actives - COALESCE(retained, 0)) * 1000000) " +
        "// nullif(prev_actives, 0) AS BIGINT) AS churn_ppm " +
        "FROM pa LEFT JOIN r ON r.week = pa.week " +
        "WHERE pa.week <= (SELECT max(week) FROM a) " +
        "ORDER BY week"),

    "event_dau_mau" ->
      ("WITH k AS (SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) AS month, " +
        "date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id FROM events), " +
        "d AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(dau) AS BIGINT) AS sum_dau FROM (" +
        "SELECT month, day, COUNT(*) AS dau FROM (SELECT DISTINCT month, day, user_id FROM k) " +
        "GROUP BY 1, 2) GROUP BY 1), " +
        "m AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS mau FROM (" +
        "SELECT DISTINCT month, user_id FROM k) GROUP BY 1) " +
        "SELECT m.month, m.mau, d.n_days, d.sum_dau, " +
        "CAST(d.sum_dau AS DOUBLE) / d.n_days AS avg_dau, " +
        "CAST(d.sum_dau AS DOUBLE) / d.n_days / m.mau AS stickiness " +
        "FROM m JOIN d USING (month) ORDER BY m.month"),

    // top-32 by (freq DESC, token); membership + per-source rollup
    "tokenizer_vocab_coverage" ->
      ("WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "v AS (SELECT tok FROM (SELECT tok, COUNT(*) AS freq FROM t GROUP BY 1 " +
        "ORDER BY freq DESC, tok LIMIT 32)), " +
        "m AS (SELECT t.source, t.tok, v.tok IS NOT NULL AS in_vocab " +
        "FROM t LEFT JOIN v ON t.tok = v.tok) " +
        "SELECT source, COUNT(*) AS n_tokens, " +
        "CAST(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT) AS n_covered, " +
        "CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab THEN tok END) AS BIGINT) AS n_oov_types, " +
        "CAST(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage " +
        "FROM m GROUP BY 1 ORDER BY 1"),

    // md5-order per-shard running total; keep iff own cumulative fits
    "corpus_token_budget" ->
      ("WITH t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
        "md5(CAST(doc_id AS VARCHAR) || ':budget') AS ek FROM documents), " +
        "c AS (SELECT source, n_tok, SUM(n_tok) OVER (PARTITION BY source " +
        "ORDER BY ek, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN cum <= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(n_tok) AS BIGINT) AS tokens_total, " +
        "CAST(SUM(CASE WHEN cum <= 2000 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept, " +
        "CAST(2000 AS BIGINT) AS budget, " +
        "CAST(SUM(CASE WHEN cum <= 2000 THEN n_tok ELSE 0 END) AS DOUBLE) / 2000 AS fill " +
        "FROM c GROUP BY source ORDER BY source"),

    // shard-plan replay: doc_id-order running total, first-fit shard
    // = (cum − n_tok) // budget, per-(source, shard) rollup
    "corpus_shard_plan" ->
      ("WITH t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, source, n_tok, SUM(n_tok) OVER (PARTITION BY source " +
        "ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t) " +
        "SELECT source, CAST((cum - n_tok) // 2000 AS BIGINT) AS shard_id, " +
        "COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens, " +
        "CAST(MIN(doc_id) AS BIGINT) AS first_doc, " +
        "CAST(MAX(doc_id) AS BIGINT) AS last_doc " +
        "FROM c GROUP BY 1, 2 ORDER BY 1, 2"),

    // bit-length idf surrogate: bitlen(N div df) - 1, zero at df = N
    "text_tfidf_keywords" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), " +
        "df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents), " +
        "sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df, " +
        "tf.tf * (length(bin(n_docs // df.df)) - 1) AS score " +
        "FROM tf JOIN df USING (tok), nn), " +
        "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, tok) AS rank FROM sc WHERE score > 0) " +
        "SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok AS token, tf, df, " +
        "CAST(score AS BIGINT) AS score FROM rk WHERE rank <= 3 " +
        "ORDER BY doc_id, rank"),

    // same 3 lags over the (ts, event_id) total order, '-' padding
    "event_path_topk" ->
      ("WITH p AS (SELECT event_type, " +
        "COALESCE(lag(event_type, 3) OVER w, '-') || '>' || " +
        "COALESCE(lag(event_type, 2) OVER w, '-') || '>' || " +
        "COALESCE(lag(event_type, 1) OVER w, '-') AS path " +
        "FROM events WINDOW w AS (PARTITION BY user_id " +
        "ORDER BY CAST(ts AS TIMESTAMP), event_id)) " +
        "SELECT path, COUNT(*) AS n FROM p WHERE event_type = 'purchase' " +
        "GROUP BY 1 ORDER BY n DESC, path LIMIT 10"),

    // lag pairs over the µs-truncated ts, (ts, event_id) total order
    "event_markov" ->
      ("WITH p AS (SELECT lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type, " +
        "event_type AS next_type FROM events), " +
        "c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM p " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total FROM c GROUP BY 1) " +
        "SELECT c.prev_type, c.next_type, c.n, " +
        "CAST(c.n AS DOUBLE) / t.row_total AS p_next " +
        "FROM c JOIN t USING (prev_type) ORDER BY 1, 2"),

    // two reservoir-median replays ((h, value) order), integer flag
    "event_anomaly_mad" ->
      ("WITH k AS (SELECT event_type, event_id, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 7)) AS BIGINT) AS h " +
        "FROM events), " +
        "s1 AS (SELECT event_type, c FROM (SELECT event_type, c, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY h, CAST(c AS DOUBLE)) AS rn " +
        "FROM k) WHERE rn <= 256), " +
        "m1 AS (SELECT event_type, CAST(v AS BIGINT) AS median_cents FROM (" +
        "SELECT event_type, CAST(c AS DOUBLE) AS v, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY CAST(c AS DOUBLE)) AS vr, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS n FROM s1) " +
        "WHERE vr = (50 * n + 99) // 100), " +
        "d AS (SELECT k.event_type, k.h, ABS(k.c - m1.median_cents) AS ad, " +
        "m1.median_cents FROM k JOIN m1 USING (event_type)), " +
        "s2 AS (SELECT event_type, ad FROM (SELECT event_type, ad, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY h, CAST(ad AS DOUBLE)) AS rn " +
        "FROM d) WHERE rn <= 256), " +
        "m2 AS (SELECT event_type, CAST(v AS BIGINT) AS mad_cents FROM (" +
        "SELECT event_type, CAST(ad AS DOUBLE) AS v, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY CAST(ad AS DOUBLE)) AS vr, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS n FROM s2) " +
        "WHERE vr = (50 * n + 99) // 100) " +
        "SELECT d.event_type, COUNT(*) AS n, d.median_cents, m2.mad_cents, " +
        "CAST(SUM(CASE WHEN d.ad * 1000 > m2.mad_cents * 4448 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM d JOIN m2 USING (event_type) " +
        "GROUP BY d.event_type, d.median_cents, m2.mad_cents " +
        "ORDER BY d.event_type"),

    // bootstrap replay: md5 percent draws, generated weight CASE and
    // geometry from the shared Relational.Bootstrap* constants
    "stats_bootstrap_ci" -> {
      val b = Relational.BootstrapB
      val wcase = "CASE " + Relational.BootstrapW.map { case (hi, w) =>
        s"WHEN pct < $hi THEN $w" }.mkString(" ") + " ELSE 0 END"
      val lo = math.max(1, math.ceil(2.5 / 100 * b).toInt)
      val hi = math.min(b, math.ceil(97.5 / 100 * b).toInt)
      ("WITH k AS (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM orders), " +
        s"r AS (SELECT o_orderkey, c, unnest(range(0, $b)) AS rb FROM k), " +
        "p AS (SELECT rb, c, CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(rb AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS pct FROM r), " +
        s"wg AS (SELECT rb, c, $wcase AS w FROM p), " +
        "m AS (SELECT rb, CAST(SUM(w*c) AS DOUBLE) / SUM(w) AS m FROM wg GROUP BY 1), " +
        "rk AS (SELECT rb, m, ROW_NUMBER() OVER (ORDER BY m, rb) AS rk FROM m), " +
        "obs AS (SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_obs FROM k) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples, obs.mean_obs, " +
        s"MIN(CASE WHEN rk = $lo THEN m END) AS ci_lo, " +
        s"MIN(CASE WHEN rk = $hi THEN m END) AS ci_hi, " +
        "MIN(m) AS m_min, MAX(m) AS m_max " +
        "FROM rk, obs GROUP BY obs.mean_obs")
    },

    // Welch replay: the SAME exact sums and the VERBATIM shared tail
    "stats_welch_t2" ->
      ("WITH g AS (SELECT " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END) AS BIGINT) AS s_a, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END) AS BIGINT) AS q_a, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END) AS BIGINT) AS s_b, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END) AS BIGINT) AS q_b " +
        "FROM events WHERE event_type IN ('click', 'purchase')) " +
        "SELECT n_a, n_b, s_a, s_b, " +
        Relational.WelchTail("mean_diff_cents") + " AS mean_diff_cents, " +
        Relational.WelchTail("t2") + " AS t2 FROM g"),

    // growth replay: same grid, lag, explicit sign-split ppm (Spark
    // div truncates; DuckDB // floors)
    // waterfall replay: same per-line scaled integers, HUGEINT sums,
    // one floor-div per group (non-negative domain → // ≡ div)
    "order_revenue_waterfall" ->
      ("WITH l AS (SELECT date_trunc('month', l_shipdate) AS month, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS d, " +
        "CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS t " +
        "FROM lineitem), " +
        "g AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_lines, " +
        "CAST(SUM(c) AS BIGINT) AS gross_cents, " +
        "SUM(CAST(c AS HUGEINT) * d) AS disc4, " +
        "SUM(CAST(c AS HUGEINT) * (100 - d)) AS net4, " +
        "SUM(CAST(c AS HUGEINT) * (100 - d) * t) AS tax6, " +
        "SUM(CAST(c AS HUGEINT) * (100 - d) * (100 + t)) AS charged6 " +
        "FROM l GROUP BY 1) " +
        "SELECT month, n_lines, gross_cents, " +
        "CAST(disc4 // 100 AS BIGINT) AS disc_cents, " +
        "CAST(net4 // 100 AS BIGINT) AS net_cents, " +
        "CAST(tax6 // 10000 AS BIGINT) AS tax_cents, " +
        "CAST(charged6 // 10000 AS BIGINT) AS charged_cents " +
        "FROM g ORDER BY month"),

    "order_monthly_growth" ->
      ("WITH m AS (SELECT date_trunc('month', o_orderdate) AS month, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents " +
        "FROM orders GROUP BY 1), " +
        "g AS (SELECT month, rev_cents, " +
        "LAG(rev_cents) OVER (ORDER BY month) AS prev_cents FROM m) " +
        "SELECT month, rev_cents, prev_cents, " +
        "CAST(CASE WHEN rev_cents - prev_cents < 0 " +
        "THEN -((-(rev_cents - prev_cents) * 1000000) // nullif(prev_cents, 0)) " +
        "ELSE ((rev_cents - prev_cents) * 1000000) // nullif(prev_cents, 0) END AS BIGINT) AS growth_ppm " +
        "FROM g ORDER BY month"),

    // FK-audit replay: same key-grouped child → distinct-parent left
    // join per edge, generated from one edge list
    "quality_fk_orphans" -> {
      val edges = Seq(
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      edges.map { case (name, child, ck, parent, pk) =>
        s"SELECT '$name' AS edge, " +
          "CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows, " +
          "CAST(COUNT(k) AS BIGINT) AS n_keys, " +
          "CAST(COALESCE(SUM(CASE WHEN hit IS NULL AND k IS NOT NULL " +
          "THEN c ELSE 0 END), 0) AS BIGINT) AS orphan_rows, " +
          "CAST(COALESCE(SUM(CASE WHEN hit IS NULL AND k IS NOT NULL " +
          "THEN 1 ELSE 0 END), 0) AS BIGINT) AS orphan_keys, " +
          "CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN c ELSE 0 END), 0) " +
          "AS BIGINT) AS null_rows " +
          s"FROM (SELECT $ck AS k, count(*) AS c FROM $child GROUP BY 1) ch " +
          s"LEFT JOIN (SELECT DISTINCT $pk AS k, 1 AS hit FROM $parent) p " +
          "USING (k)"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY edge")
    },

    // Spearman replay: same grid ranks, DECIMAL(38) moments, the
    // identical via-string Pearson tree
    "stats_spearman" ->
      ("WITH r0 AS (SELECT CAST(l_quantity AS BIGINT) AS x, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y FROM lineitem), " +
        "gx AS (SELECT x, COUNT(*) AS cnt FROM r0 GROUP BY 1), " +
        "rx AS (SELECT x, COALESCE(SUM(cnt) OVER (ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + cnt + 1 AS r_x FROM gx), " +
        "gy AS (SELECT y, COUNT(*) AS cnt FROM r0 GROUP BY 1), " +
        "ry AS (SELECT y, COALESCE(SUM(cnt) OVER (ORDER BY y " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + cnt + 1 AS r_y FROM gy), " +
        "j AS (SELECT r_x, r_y FROM r0 JOIN rx USING (x) JOIN ry USING (y)), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(CAST(r_x AS DECIMAL(38,0))) AS sx, SUM(CAST(r_y AS DECIMAL(38,0))) AS sy, " +
        "SUM(CAST(r_x AS DECIMAL(38,0)) * r_y) AS sxy, " +
        "SUM(CAST(r_x AS DECIMAL(38,0)) * r_x) AS sxx, " +
        "SUM(CAST(r_y AS DECIMAL(38,0)) * r_y) AS syy FROM j) " +
        "SELECT n, (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)) / " +
        "(sqrt(n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) * " +
        "sqrt(n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS spearman_rho " +
        "FROM s"),

    // Length-drift replay: same dense source x grid matrix + suprema
    "quality_len_drift" ->
      // r15: bit-length buckets (the Kendall doctrine) — grid ≤ 64
      ("WITH cnt AS (SELECT source, " +
        "CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS cn " +
        "FROM documents GROUP BY 1, 2), " +
        "mat AS (SELECT s.source, g.v, COALESCE(cn, 0) AS a " +
        "FROM (SELECT DISTINCT source FROM cnt) s " +
        "CROSS JOIN (SELECT DISTINCT v FROM cnt) g " +
        "LEFT JOIN cnt ON cnt.source = s.source AND cnt.v = g.v), " +
        "ca AS (SELECT source, v, SUM(a) OVER (PARTITION BY source ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca FROM mat), " +
        "ct AS (SELECT v, SUM(t) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct FROM " +
        "(SELECT v, CAST(SUM(cn) AS BIGINT) AS t FROM cnt GROUP BY 1)), " +
        "na AS (SELECT source, CAST(SUM(cn) AS BIGINT) AS n_docs FROM cnt GROUP BY 1), " +
        "nt AS (SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS n_total FROM cnt) " +
        "SELECT ca.source AS source, n_docs, n_total - n_docs AS n_rest, " +
        "CAST(MAX(abs(ca * (n_total - n_docs) - (ct - ca) * n_docs)) AS BIGINT) AS d_scaled, " +
        "CAST(MAX(abs(ca * (n_total - n_docs) - (ct - ca) * n_docs)) AS DOUBLE) / " +
        "nullif(n_docs * (n_total - n_docs), 0) AS d " +
        "FROM ca JOIN ct USING (v) JOIN na ON na.source = ca.source CROSS JOIN nt " +
        "GROUP BY ca.source, n_docs, n_rest ORDER BY source"),

    // Basket replay: per-order counts → bounded histogram + ppm
    "order_basket_hist" ->
      ("WITH per AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz " +
        "FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS n_total FROM per) " +
        "SELECT sz AS basket_size, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
        "CAST((COUNT(*) * 1000000) // nullif(n_total, 0) AS BIGINT) AS share_ppm " +
        "FROM per CROSS JOIN t GROUP BY sz, n_total ORDER BY basket_size"),

    // HHI replay: same exact revenue squares, identical trees
    "supplier_hhi" ->
      ("WITH rev AS (SELECT n_name, s_suppkey, " +
        "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS r " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey GROUP BY 1, 2), " +
        "g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers, " +
        "CAST(SUM(r) AS BIGINT) AS total_cents, " +
        "SUM(CAST(r AS DECIMAL(38,0)) * r) AS sq FROM rev GROUP BY 1) " +
        "SELECT n_name, n_suppliers, total_cents, " +
        "CAST(CAST(sq AS VARCHAR) AS DOUBLE) / " +
        "CAST(CAST(CAST(total_cents AS DECIMAL(38,0)) * total_cents AS VARCHAR) AS DOUBLE) AS hhi, " +
        "CAST(CAST(CAST(total_cents AS DECIMAL(38,0)) * total_cents AS VARCHAR) AS DOUBLE) / " +
        "CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS eff_suppliers " +
        "FROM g ORDER BY n_name"),

    // Diversity replay: same exact pair counts, via-string bridge,
    // identical two-division tree
    "customer_diversity" ->
      ("WITH seg AS (SELECT n_name, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS ni " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), " +
        "g AS (SELECT n_name, CAST(SUM(ni) AS BIGINT) AS n_customers, " +
        "CAST(COUNT(*) AS BIGINT) AS n_segments, " +
        "SUM(CAST(ni AS DECIMAL(38,0)) * (ni - 1)) AS ss FROM seg GROUP BY 1), " +
        "h AS (SELECT *, CAST(n_customers AS DECIMAL(38,0)) * (n_customers - 1) AS nn FROM g) " +
        "SELECT n_name, n_customers, n_segments, " +
        "(CAST(CAST(nn AS VARCHAR) AS DOUBLE) - CAST(CAST(ss AS VARCHAR) AS DOUBLE)) / " +
        "CAST(CAST(nn AS VARCHAR) AS DOUBLE) AS simpson, " +
        "CAST(CAST(nn AS VARCHAR) AS DOUBLE) / CAST(CAST(ss AS VARCHAR) AS DOUBLE) " +
        "AS eff_segments FROM h ORDER BY n_name"),

    // Holt replay: same grid + the recurrence as a recursive CTE over
    // the month index; the sign-split halve text shape is shared
    "order_forecast_holt" -> {
      def h(v: String) =
        s"CASE WHEN ($v) < 0 THEN -((-($v)) // 2) ELSE ($v) // 2 END"
      val lNew = h("s.x + f.l + f.t")
      "WITH RECURSIVE m AS (SELECT date_trunc('month', o_orderdate) AS month, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(month) AS lo, max(month) AS hi FROM m), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM b), " +
        "s AS (SELECT ROW_NUMBER() OVER (ORDER BY g.month) AS i, g.month AS month, " +
        "CAST(COALESCE(rev, 0) AS BIGINT) AS x FROM grid g LEFT JOIN m USING (month)), " +
        "f AS (SELECT i, month, x, CAST(NULL AS BIGINT) AS fc, x AS l, " +
        "CAST(0 AS BIGINT) AS t FROM s WHERE i = 1 " +
        "UNION ALL SELECT s.i, s.month, s.x, f.l + f.t AS fc, " +
        s"CAST($lNew AS BIGINT) AS l, " +
        s"CAST(${h(s"($lNew) - f.l + f.t")} AS BIGINT) AS t " +
        "FROM f JOIN s ON s.i = f.i + 1) " +
        "SELECT month, x AS rev_cents, fc AS forecast_cents, " +
        "x - fc AS err_cents FROM f ORDER BY month"
    },

    // Holt-Winters replay: recursive CTE carrying the 7-slot season
    // LIST, same sign-split halves, dayofweek+1 (DuckDB 0=Sunday)
    "order_forecast_hw" -> {
      def h(v: String) =
        s"CASE WHEN ($v) < 0 THEN -((-($v)) // 2) ELSE ($v) // 2 END"
      val sd = "f.sv[s.dw]"
      val lNew = h(s"s.x - $sd + f.l + f.t")
      val sNew = h(s"s.x - ($lNew) + $sd")
      "WITH RECURSIVE d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "s AS (SELECT ROW_NUMBER() OVER (ORDER BY g.day) AS i, g.day AS day, " +
        "CAST(COALESCE(rev, 0) AS BIGINT) AS x, " +
        "CAST(dayofweek(g.day) + 1 AS INT) AS dw FROM grid g LEFT JOIN d USING (day)), " +
        "f AS (SELECT i, day, x, dw, CAST(NULL AS BIGINT) AS fc, x AS l, " +
        "CAST(0 AS BIGINT) AS t, " +
        "[CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] AS sv FROM s WHERE i = 1 " +
        "UNION ALL SELECT s.i, s.day, s.x, s.dw, " +
        s"f.l + f.t + $sd AS fc, " +
        s"CAST($lNew AS BIGINT) AS l, " +
        s"CAST(${h(s"($lNew) - f.l + f.t")} AS BIGINT) AS t, " +
        s"f.sv[1:s.dw-1] || [CAST($sNew AS BIGINT)] || f.sv[s.dw+1:7] AS sv " +
        "FROM f JOIN s ON s.i = f.i + 1) " +
        "SELECT day, x AS rev_cents, fc AS forecast_cents, " +
        "x - fc AS err_cents FROM f ORDER BY day"
    },

    // OHLC streaming parity: the batch weekly resample IS the oracle —
    // the streaming leg's cross-batch daily sums must reproduce it
    "stream_ohlc_parity" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day AS day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)) " +
        "SELECT CAST(date_trunc('week', day) AS TIMESTAMP) AS week, " +
        "CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(arg_min(x, day) AS BIGINT) AS open_cents, " +
        "CAST(MAX(x) AS BIGINT) AS high_cents, " +
        "CAST(MIN(x) AS BIGINT) AS low_cents, " +
        "CAST(arg_max(x, day) AS BIGINT) AS close_cents " +
        "FROM series GROUP BY 1 ORDER BY 1"),

    // Weekly OHLC replay: same gap-filled grid, arg_min/arg_max
    // open/close, week cast back to TIMESTAMP (DuckDB trunc → DATE)
    "window_ohlc_weekly" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day AS day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)) " +
        "SELECT CAST(date_trunc('week', day) AS TIMESTAMP) AS week, " +
        "CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(arg_min(x, day) AS BIGINT) AS open_cents, " +
        "CAST(MAX(x) AS BIGINT) AS high_cents, " +
        "CAST(MIN(x) AS BIGINT) AS low_cents, " +
        "CAST(arg_max(x, day) AS BIGINT) AS close_cents " +
        "FROM series GROUP BY 1 ORDER BY 1"),

    // QQ decile replay: same value-grouped rank brackets, nearest-rank
    // low k = ((n-1)·i) div 10 + 1 (nonneg → // ≡ div)
    "stats_qq_deciles" ->
      ("WITH base AS (SELECT CASE WHEN event_type = 'click' THEN 'a' " +
        "ELSE 'b' END AS arm, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "counts AS (SELECT arm, v, COUNT(*) AS cnt FROM base GROUP BY 1, 2), " +
        "cum AS (SELECT arm, v, " +
        "SUM(cnt) OVER (PARTITION BY arm ORDER BY v) AS hi_rank, " +
        "SUM(cnt) OVER (PARTITION BY arm ORDER BY v) - cnt + 1 AS lo_rank " +
        "FROM counts), " +
        "nn AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1), " +
        "ranks AS (SELECT arm, n, CAST(decile AS INT) AS decile, " +
        "((n - 1) * decile) // 10 + 1 AS k " +
        "FROM nn, (SELECT unnest(range(1, 10)) AS decile)), " +
        "q AS (SELECT r.decile, r.arm, r.n, c.v FROM ranks r JOIN cum c " +
        "ON c.arm = r.arm AND r.k BETWEEN c.lo_rank AND c.hi_rank) " +
        "SELECT decile, " +
        "MAX(CASE WHEN arm = 'a' THEN n END) AS n_a, " +
        "MAX(CASE WHEN arm = 'b' THEN n END) AS n_b, " +
        "MAX(CASE WHEN arm = 'a' THEN v END) AS qa_cents, " +
        "MAX(CASE WHEN arm = 'b' THEN v END) AS qb_cents, " +
        "MAX(CASE WHEN arm = 'a' THEN v END) - " +
        "MAX(CASE WHEN arm = 'b' THEN v END) AS diff_cents " +
        "FROM q GROUP BY 1 ORDER BY 1"),

    // Seasonality replay: same 12-row structural grid + ppm shares
    "order_seasonality" ->
      ("WITH m AS (SELECT CAST(month(o_orderdate) AS INT) AS moy, " +
        "CAST(COUNT(*) AS BIGINT) AS n_orders, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT SUM(rev) AS total FROM m), " +
        "g AS (SELECT CAST(unnest(generate_series(1, 12)) AS INT) AS moy) " +
        "SELECT g.moy AS moy, CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders, " +
        "CAST(COALESCE(rev, 0) AS BIGINT) AS rev_cents, " +
        "CAST((COALESCE(rev, 0) * 1000000) // nullif(total, 0) AS BIGINT) AS share_ppm " +
        "FROM g LEFT JOIN m USING (moy) CROSS JOIN t ORDER BY moy"),

    // Rolling-median replay: same grid, list window frame, same
    // nearest-rank-low extraction
    "window_rolling_median" ->
      ("WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day AS day, CAST(COALESCE(d.rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN daily d USING (day)), " +
        "fr AS (SELECT day, x, list_sort(list(x) OVER (ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr FROM series) " +
        "SELECT day, x AS rev_cents, CAST(len(arr) AS BIGINT) AS n_window, " +
        "CAST(arr[CAST((len(arr) + 1) // 2 AS INT)] AS BIGINT) AS median7 " +
        "FROM fr ORDER BY day"),

    // ACF replay: same gap-filled grid, LAG fan-out, DECIMAL(38)
    // moments, the identical via-string Pearson tree per lag
    "stats_autocorr" -> {
      val lags = 1 to 7
      val dd = (c: String) => s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      "WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day AS day, CAST(COALESCE(d.rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN daily d USING (day)), " +
        "lagged AS (SELECT x, " +
        lags.map(l => s"LAG(x, $l) OVER (ORDER BY day) AS y$l").mkString(", ") +
        " FROM series), " +
        "pairs AS (" +
        lags.map(l => s"SELECT $l AS acf_lag, x, y$l AS y FROM lagged " +
          s"WHERE y$l IS NOT NULL").mkString(" UNION ALL ") + "), " +
        "s AS (SELECT acf_lag, CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, " +
        "SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy, " +
        "SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx, " +
        "SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy FROM pairs GROUP BY 1) " +
        s"SELECT acf_lag, n, (n * ${dd("sxy")} - ${dd("sx")} * ${dd("sy")}) / " +
        s"(sqrt(n * ${dd("sxx")} - ${dd("sx")} * ${dd("sx")}) * " +
        s"sqrt(n * ${dd("syy")} - ${dd("sy")} * ${dd("sy")})) AS acf " +
        "FROM s ORDER BY acf_lag"
    },

    // Gini replay: same grouped prefix-sum fold, BIGINT to the end
    // user-gini replay: per-user counts, the order_gini value-grouped
    // doubled-rank fold on the activity grid
    "event_user_gini" ->
      ("WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS v " +
        "FROM events GROUP BY 1), " +
        "g AS (SELECT v, COUNT(*) AS cnt FROM per GROUP BY 1), " +
        "r AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt FROM g), " +
        "s AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_users, " +
        "CAST(COALESCE(SUM(v * cnt), 0) AS BIGINT) AS n_events, " +
        "CAST(COALESCE(SUM(v * (cnt * clt + (cnt * (cnt + 1)) // 2)), 0) AS BIGINT) AS rw FROM r) " +
        "SELECT n_users, n_events, " +
        "CAST(2 * rw - (n_users + 1) * n_events AS BIGINT) AS gini_num, " +
        "CAST(2 * rw - (n_users + 1) * n_events AS DOUBLE) / nullif(n_users * n_events, 0) AS gini " +
        "FROM s"),

    "order_gini" ->
      ("WITH g AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v, " +
        "COUNT(*) AS cnt FROM orders GROUP BY 1), " +
        "r AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt FROM g), " +
        "s AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_orders, " +
        "CAST(COALESCE(SUM(v * cnt), 0) AS BIGINT) AS sum_cents, " +
        "CAST(COALESCE(SUM(v * (cnt * clt + (cnt * (cnt + 1)) // 2)), 0) AS BIGINT) AS rw FROM r) " +
        "SELECT n_orders, sum_cents, " +
        "CAST(2 * rw - (n_orders + 1) * sum_cents AS BIGINT) AS gini_num, " +
        "CAST(2 * rw - (n_orders + 1) * sum_cents AS DOUBLE) / nullif(n_orders * sum_cents, 0) AS gini " +
        "FROM s"),

    // ANOVA replay: the same per-type exact sums (fixed group order)
    // + the SHARED AnovaTail double expression verbatim
    "stats_anova" -> {
      val cexp = "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      val cols = Relational.AnovaTypes.map { ty =>
        s"CAST(COALESCE(SUM(CASE WHEN event_type = '$ty' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_$ty, " +
          s"CAST(COALESCE(SUM(CASE WHEN event_type = '$ty' THEN $cexp END), 0) AS BIGINT) AS s_$ty, " +
          s"CAST(COALESCE(SUM(CASE WHEN event_type = '$ty' THEN $cexp * $cexp END), 0) AS HUGEINT) AS q_$ty"
      }.mkString(", ")
      val types = Relational.AnovaTypes.map(t => s"'$t'").mkString(", ")
      s"WITH g AS (SELECT $cols FROM events WHERE event_type IN ($types)) " +
        s"SELECT CAST(${Relational.AnovaTypes.length} AS BIGINT) AS k_groups, " +
        Relational.AnovaTail("n_total") + " AS n_total, " +
        Relational.AnovaTail("ss_between") + " AS ss_between, " +
        Relational.AnovaTail("ss_within") + " AS ss_within, " +
        Relational.AnovaTail("f_stat") + " AS f_stat FROM g"
    },

    // value-drift replay: same bit-length buckets, HUGEINT cross
    // products, grid completed before the fold (zero-week buckets
    // contribute their global mass)
    "event_value_drift" ->
      ("WITH bkt AS (SELECT date_trunc('week', ts) AS week, " +
        "CAST(length(bin(greatest(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT), 1))) AS BIGINT) AS b " +
        "FROM events), " +
        "wk AS (SELECT week, b, CAST(COUNT(*) AS BIGINT) AS c_wb FROM bkt GROUP BY 1, 2), " +
        "gl AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS g_b FROM bkt GROUP BY 1), " +
        "tw AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_w FROM bkt GROUP BY 1), " +
        "ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_g FROM bkt), " +
        "j AS (SELECT tw.week, tw.n_w, COALESCE(wk.c_wb, 0) AS c_wb, gl.g_b " +
        "FROM tw CROSS JOIN gl LEFT JOIN wk ON tw.week = wk.week AND gl.b = wk.b) " +
        "SELECT j.week, MAX(j.n_w) AS n_events, " +
        "CAST(SUM(CASE WHEN j.c_wb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets, " +
        "CAST(SUM(abs(CAST(j.c_wb AS HUGEINT) * ng.n_g - " +
        "CAST(j.g_b AS HUGEINT) * j.n_w)) * 1000000 // " +
        "nullif(MAX(CAST(j.n_w AS HUGEINT) * ng.n_g) * 2, 0) AS BIGINT) AS tv_ppm " +
        "FROM j, ng GROUP BY j.week ORDER BY j.week"),

    // Levene replay: value-grouped doubled-median front, then the SAME
    // pivoted aggregation + AnovaTail tree over the z deviations
    "stats_levene" -> {
      val cexp = "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      val types = Relational.AnovaTypes.map(t => s"'$t'").mkString(", ")
      val cols = Relational.AnovaTypes.map { ty =>
        s"CAST(COALESCE(SUM(CASE WHEN ty = '$ty' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_$ty, " +
          s"CAST(COALESCE(SUM(CASE WHEN ty = '$ty' THEN c END), 0) AS BIGINT) AS s_$ty, " +
          s"CAST(COALESCE(SUM(CASE WHEN ty = '$ty' THEN c * c END), 0) AS HUGEINT) AS q_$ty"
      }.mkString(", ")
      s"WITH base AS (SELECT event_type AS ty, $cexp AS c FROM events " +
        s"WHERE event_type IN ($types)), " +
        "vg AS (SELECT ty, c AS v, CAST(COUNT(*) AS BIGINT) AS m FROM base GROUP BY 1, 2), " +
        "cum AS (SELECT ty, v, SUM(m) OVER (PARTITION BY ty ORDER BY v " +
        "ROWS UNBOUNDED PRECEDING) AS cm, " +
        "SUM(m) OVER (PARTITION BY ty) AS n FROM vg), " +
        "lo AS (SELECT ty, MIN(v) AS v_lo FROM cum WHERE cm >= (n + 1) // 2 GROUP BY 1), " +
        "hi AS (SELECT ty, MIN(v) AS v_hi FROM cum WHERE cm >= n // 2 + 1 GROUP BY 1), " +
        "md AS (SELECT ty, v_lo + v_hi AS med2 FROM lo JOIN hi USING (ty)), " +
        "z AS (SELECT base.ty, abs(2 * base.c - md.med2) AS c FROM base JOIN md USING (ty)), " +
        s"g AS (SELECT $cols FROM z) " +
        s"SELECT CAST(${Relational.AnovaTypes.length} AS BIGINT) AS k_groups, " +
        Relational.AnovaTail("n_total") + " AS n_total, " +
        Relational.AnovaTail("ss_between") + " AS ss_between, " +
        Relational.AnovaTail("ss_within") + " AS ss_within, " +
        Relational.AnovaTail("f_stat") + " AS f_stat FROM g"
    },

    // rank-sum replay: same value-grouped prefix-sum front as the
    // engine (doubled tied ranks — all BIGINT until the final AUC)
    "stats_mannwhitney" ->
      ("WITH g AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na, " +
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb " +
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "r AS (SELECT *, COALESCE(SUM(na + nb) OVER " +
        "(ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt FROM g), " +
        "s AS (SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a, " +
        "CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b, " +
        "CAST(COALESCE(SUM(na * (clt * 2 + na + nb + 1)), 0) AS BIGINT) AS r2x_a FROM r) " +
        "SELECT n_a, n_b, r2x_a, " +
        "CAST(r2x_a - n_a * (n_a + 1) AS BIGINT) AS u2x_a, " +
        "CAST(r2x_a - n_a * (n_a + 1) AS DOUBLE) / nullif(n_a * n_b * 2, 0) AS auc_a " +
        "FROM s"),

    // KS replay: cumulative counts over the same grid; the supremum
    // stays integer until the final division
    "stats_ks" ->
      ("WITH g AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na, " +
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb " +
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "tot AS (SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a, " +
        "CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b FROM g), " +
        "r AS (SELECT SUM(na) OVER (ORDER BY c) AS c1, " +
        "SUM(nb) OVER (ORDER BY c) AS c2 FROM g), " +
        "sup AS (SELECT CAST(COALESCE(MAX(ABS(c1 * (SELECT n_b FROM tot) " +
        "- c2 * (SELECT n_a FROM tot))), 0) AS BIGINT) AS d_scaled FROM r) " +
        "SELECT n_a, n_b, d_scaled, " +
        "CAST(d_scaled AS DOUBLE) / nullif(n_a * n_b, 0) AS d FROM tot, sup"),

    // Q14 replay: centi-cent decimal money, scaled-denominator ppm
    "q14_type_share" ->
      ("WITH j AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * 10000 AS BIGINT) AS r, " +
        "p_type FROM lineitem JOIN part ON l_partkey = p_partkey) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_lines, " +
        "CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN 1 ELSE 0 END) AS BIGINT) AS n_promo_lines, " +
        "CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN r ELSE 0 END) AS DOUBLE) / 10000 AS promo_revenue, " +
        "CAST(SUM(r) AS DOUBLE) / 10000 AS total_revenue, " +
        "CAST(CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN r ELSE 0 END) AS BIGINT) // " +
        "nullif(CAST(SUM(r) AS BIGINT) // 1000000, 0) AS BIGINT) AS promo_ppm " +
        "FROM j"),

    // ---- Round-13 TPC-H batch oracles (decimal-exact money math,
    // ratios as one double division of exact values) ------------------
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) * " +
        "(CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge, " +
        "CAST(COUNT(*) AS BIGINT) AS count_order, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    "q4_order_priority" ->
      ("SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAY) " +
        "GROUP BY 1 ORDER BY 1"),

    "q7_volume_shipping" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    "q8_market_share" ->
      ("WITH v AS (SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT) AS vol " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY' " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA' " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey) " +
        "SELECT CAST(o_year AS BIGINT) AS o_year, " +
        "CAST(SUM(vol) AS BIGINT) AS total_bp, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS BIGINT) AS nation_bp, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS DOUBLE) / SUM(vol) AS mkt_share " +
        "FROM v GROUP BY 1 ORDER BY 1"),

    "q12_late_lines" ->
      ("SELECT l_linestatus, " +
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_shipdate > o_orderdate + INTERVAL 60 DAY " +
        "GROUP BY 1 ORDER BY 1"),

    "q13_cust_distribution" ->
      ("WITH cc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders " +
        "WHERE o_orderpriority != '4-NOT SPECIFIED') o ON c_custkey = o_custkey " +
        "GROUP BY 1) " +
        "SELECT CAST(c_count AS BIGINT) AS c_count, " +
        "CAST(COUNT(*) AS BIGINT) AS custdist " +
        "FROM cc GROUP BY 1 ORDER BY custdist DESC, c_count DESC"),

    "q15_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, " +
        "SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT)) AS rc " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, CAST(rc AS DOUBLE) / 10000.0 AS total_revenue " +
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE rc = (SELECT MAX(rc) FROM rev) ORDER BY s_suppkey"),

    "q21_waiting_suppliers" ->
      ("WITH pos AS (SELECT o_orderkey, l_suppkey, " +
        "MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS supp_late " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F' GROUP BY 1, 2), " +
        "po AS (SELECT o_orderkey AS ok, COUNT(*) AS n_supp, " +
        "SUM(supp_late) AS n_late_supp FROM pos GROUP BY 1) " +
        "SELECT s_name, s_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait " +
        "FROM pos JOIN po ON o_orderkey = ok " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE supp_late = 1 AND n_supp > 1 AND n_late_supp = 1 " +
        "GROUP BY 1, 2 ORDER BY numwait DESC, s_name LIMIT 20"),

    "q17_small_qty_revenue" ->
      ("WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand = 'Brand#3' AND p_size <= 10), " +
        "aq AS (SELECT l_partkey AS ap, SUM(CAST(l_quantity AS BIGINT)) AS sq, " +
        "COUNT(*) AS nq FROM li GROUP BY 1) " +
        "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly " +
        "FROM li JOIN aq ON l_partkey = ap " +
        "WHERE CAST(l_quantity AS BIGINT) * 5 * nq < sq"),

    "q19_discounted_revenue" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_lines, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"),

    "q22_sales_opportunity" ->
      ("WITH ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) " +
        "/ COUNT(*) AS avg_bal FROM customer WHERE c_acctbal > 0.0) " +
        "SELECT c_custkey % 7 AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal " +
        "FROM customer, ab WHERE c_acctbal > avg_bal " +
        "AND c_custkey NOT IN (SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1999-01-01') " +
        "GROUP BY 1 ORDER BY 1"),

    // SLA replay: date-difference lags per priority, ppm share
    "order_fulfillment_lag" ->
      ("WITH j AS (SELECT o_orderpriority AS priority, " +
        "CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS lag_days " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
        "SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_lines, " +
        "MIN(lag_days) AS min_lag_days, MAX(lag_days) AS max_lag_days, " +
        "CAST(CASE WHEN SUM(lag_days) < 0 THEN -(abs(SUM(lag_days)) // COUNT(*)) " +
        "ELSE SUM(lag_days) // COUNT(*) END AS BIGINT) AS mean_lag_days, " +
        "CAST(SUM(CASE WHEN lag_days <= " + Relational.SlaDays +
        " THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS sla_ppm " +
        "FROM j GROUP BY 1 ORDER BY 1"),

    // cadence replay: date-difference gaps, floor-div mean
    "order_repeat_interval" ->
      ("WITH g AS (SELECT o_custkey, " +
        "CAST(CAST(o_orderdate AS DATE) - lag(CAST(o_orderdate AS DATE)) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS gap_days " +
        "FROM orders), " +
        "a AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps, " +
        "MIN(gap_days) AS min_gap_days, MAX(gap_days) AS max_gap_days, " +
        "CAST(SUM(gap_days) AS BIGINT) AS span_days " +
        "FROM g WHERE gap_days IS NOT NULL GROUP BY 1) " +
        "SELECT o_custkey, n_gaps + 1 AS n_orders, min_gap_days, " +
        "max_gap_days, span_days, " +
        "CAST(span_days // n_gaps AS BIGINT) AS mean_gap_days " +
        "FROM a ORDER BY o_custkey"),

    // pareto replay: the head sizes and conditional sums are GENERATED
    // from the same Relational.ParetoNs the engine aggregates
    "order_pareto" -> {
      val ns = Relational.ParetoNs
      ("WITH c AS (SELECT o_custkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(cents) AS BIGINT) AS cents_total, " +
        "CAST(COUNT(*) AS BIGINT) AS n_customers FROM c), " +
        "r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rn " +
        s"FROM c QUALIFY rn <= ${ns.max}), " +
        "a AS (SELECT " +
        ns.map(n => s"CAST(SUM(CASE WHEN rn <= $n THEN cents END) AS BIGINT) AS c$n")
          .mkString(", ") +
        " FROM r), " +
        "h AS (" +
        ns.map(n => s"SELECT CAST($n AS BIGINT) AS top_n, c$n AS cents_topn FROM a")
          .mkString(" UNION ALL ") + ") " +
        "SELECT top_n, n_customers, cents_topn, cents_total, " +
        "CAST(cents_topn * 1000000 // nullif(cents_total, 0) AS BIGINT) AS share_ppm " +
        "FROM h, t ORDER BY top_n")
    },

    // ABC replay: same ×10⁴ exact units, HUGEINT running/total sums,
    // identical ≤-crossing convention; units surface via VARCHAR
    // (parity is dtype-kind sensitive: HUGEINT↔DECIMAL both as strings)
    "order_abc_class" -> {
      val (cutA, cutB) = Relational.AbcCutsPpm
      ("WITH rev AS (SELECT pt.p_brand, li.l_partkey, " +
        "SUM(CAST(CAST(li.l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(li.l_discount AS DECIMAL(12,2))) * 10000 AS HUGEINT)) AS u " +
        "FROM lineitem li JOIN part pt ON li.l_partkey = pt.p_partkey GROUP BY 1, 2), " +
        "c AS (SELECT p_brand, u, " +
        "SUM(u) OVER (PARTITION BY p_brand ORDER BY u DESC, l_partkey " +
        "ROWS UNBOUNDED PRECEDING) AS cum, " +
        "SUM(u) OVER (PARTITION BY p_brand) AS total FROM rev), " +
        "k AS (SELECT p_brand, u, total, " +
        s"CASE WHEN cum * 1000000 // nullif(total, 0) <= $cutA THEN 'A' " +
        s"WHEN cum * 1000000 // nullif(total, 0) <= $cutB THEN 'B' " +
        "ELSE 'C' END AS abc_class FROM c) " +
        "SELECT p_brand, abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts, " +
        "CAST(SUM(u) AS VARCHAR) AS units, " +
        "CAST(SUM(u) * 1000000 // nullif(MAX(total), 0) AS BIGINT) AS share_ppm " +
        "FROM k GROUP BY 1, 2 ORDER BY 1, 2")
    },

    // Theil–Sen replay: same gap-filled grid, BIGINT cross-multiplied
    // rational order, lower-median rank selection, (den, num)-minimal
    // representation, sign-split ppm
    "stats_theil_sen" ->
      ("WITH dly AS (SELECT event_type, date_trunc('day', ts) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM dly GROUP BY 1), " +
        "grid AS (SELECT event_type, lo, " +
        "unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "ser AS (SELECT g.event_type, CAST(date_diff('day', g.lo, g.day) AS BIGINT) AS x, " +
        "COALESCE(d.y, 0) AS y FROM grid g " +
        "LEFT JOIN dly d ON g.event_type = d.event_type AND g.day = d.day), " +
        "sl AS (SELECT a.event_type, b.y - a.y AS num, b.x - a.x AS den " +
        "FROM ser a JOIN ser b ON a.event_type = b.event_type AND a.x < b.x), " +
        // canonical reduced fractions with multiplicity (r15: the
        // counting join runs over the distinct-slope grid, weighted)
        "slg AS (SELECT event_type, " +
        "CAST(num // gcd(abs(num), den) AS BIGINT) AS gnum, " +
        "CAST(den // gcd(abs(num), den) AS BIGINT) AS gden, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM sl GROUP BY 1, 2, 3), " +
        "tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_pairs " +
        "FROM slg GROUP BY 1), " +
        "cnt AS (SELECT r.event_type, r.gnum AS rnum, r.gden AS rden, " +
        "CAST(SUM(CASE WHEN s.gnum * r.gden < r.gnum * s.gden " +
        "THEN s.cnt ELSE 0 END) AS BIGINT) AS c_lt, " +
        "CAST(MAX(r.cnt) AS BIGINT) AS c_eq " +
        "FROM slg r JOIN slg s ON r.event_type = s.event_type GROUP BY 1, 2, 3), " +
        "nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM ser GROUP BY 1), " +
        "sel AS (SELECT c.*, t.n_pairs FROM cnt c JOIN tot t USING (event_type) " +
        "WHERE c_lt < (n_pairs + 1) // 2 AND (n_pairs + 1) // 2 <= c_lt + c_eq) " +
        "SELECT s.event_type, nd.n_days, s.n_pairs, " +
        "s.rnum AS med_num, s.rden AS med_den, " +
        "CAST(CASE WHEN s.rnum < 0 THEN -((abs(s.rnum) * 1000000) // s.rden) " +
        "ELSE (s.rnum * 1000000) // s.rden END AS BIGINT) AS slope_ppm " +
        "FROM sel s JOIN nd USING (event_type) ORDER BY 1"),

    // Kendall replay: same bit-length grid, HUGEINT doubled pair
    // counts, identical τ tree through the via-string bridge
    "stats_kendall" ->
      ("WITH cust AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS no, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sp " +
        "FROM orders GROUP BY 1), " +
        "xy AS (SELECT CAST(length(bin(no)) AS BIGINT) AS x, " +
        "CAST(length(bin(greatest(sp, 1))) AS BIGINT) AS y FROM cust), " +
        "cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS m FROM xy GROUP BY 1, 2), " +
        "tot AS (SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n FROM cells), " +
        "mx AS (SELECT COALESCE(SUM(CAST(g AS HUGEINT) * (g - 1)), 0) AS t_x2 " +
        "FROM (SELECT x, CAST(SUM(m) AS BIGINT) AS g FROM cells GROUP BY 1)), " +
        "my AS (SELECT COALESCE(SUM(CAST(g AS HUGEINT) * (g - 1)), 0) AS t_y2 " +
        "FROM (SELECT y, CAST(SUM(m) AS BIGINT) AS g FROM cells GROUP BY 1)), " +
        "cd AS (SELECT " +
        "COALESCE(SUM(CASE WHEN a.y < b.y THEN CAST(a.m AS HUGEINT) * b.m * 2 END), 0) AS c_x2, " +
        "COALESCE(SUM(CASE WHEN a.y > b.y THEN CAST(a.m AS HUGEINT) * b.m * 2 END), 0) AS d_x2 " +
        "FROM cells a JOIN cells b ON a.x < b.x), " +
        "f AS (SELECT n, CAST(n AS HUGEINT) * (n - 1) AS n0_x2, " +
        "t_x2, t_y2, c_x2, d_x2 FROM tot, mx, my, cd) " +
        "SELECT n AS n_custs, CAST(n0_x2 AS VARCHAR) AS n_pairs_x2, " +
        "CAST(c_x2 AS VARCHAR) AS c_pairs_x2, " +
        "CAST(d_x2 AS VARCHAR) AS d_pairs_x2, " +
        "CAST(t_x2 AS VARCHAR) AS ties_x_x2, " +
        "CAST(t_y2 AS VARCHAR) AS ties_y_x2, " +
        "CASE WHEN n0_x2 - t_x2 <= 0 OR n0_x2 - t_y2 <= 0 THEN NULL " +
        "ELSE CAST(CAST(c_x2 - d_x2 AS VARCHAR) AS DOUBLE) / " +
        "(sqrt(CAST(CAST(n0_x2 - t_x2 AS VARCHAR) AS DOUBLE)) * " +
        "sqrt(CAST(CAST(n0_x2 - t_y2 AS VARCHAR) AS DOUBLE))) END AS tau_b " +
        "FROM f"),

    // forecast replay: re-centered integer OLS, sign-split divisions
    "event_forecast_linear" ->
      ("WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS y " +
        "FROM events GROUP BY 1, 2), " +
        "d0 AS (SELECT event_type, MIN(day) AS d0 FROM dly GROUP BY 1), " +
        "p AS (SELECT dly.event_type, CAST(dly.day - d0.d0 AS BIGINT) AS x, y " +
        "FROM dly JOIN d0 USING (event_type)), " +
        "s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, " +
        "CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx, " +
        "MAX(x) AS x_max FROM p GROUP BY 1) " +
        "SELECT event_type, n_days, n_days*sxy - sx*sy AS num, " +
        "n_days*sxx - sx*sx AS den, x_max + 1 AS next_x, " +
        "CAST(sign(n_days*sxy - sx*sy) AS BIGINT) * " +
        "((abs(n_days*sxy - sx*sy) * 1000) // (n_days*sxx - sx*sx)) AS slope_milli, " +
        "CAST(sign(sy*(n_days*sxx - sx*sx) - (n_days*sxy - sx*sy)*sx + " +
        "n_days*(n_days*sxy - sx*sy)*(x_max + 1)) AS BIGINT) * " +
        "(abs(sy*(n_days*sxx - sx*sx) - (n_days*sxy - sx*sy)*sx + " +
        "n_days*(n_days*sxy - sx*sy)*(x_max + 1)) // " +
        "(n_days*(n_days*sxx - sx*sx))) AS forecast_cents " +
        "FROM s ORDER BY event_type"),

    // velocity replay: the same exact µs RANGE frame, thresholds from
    // the shared Sessionize.Velocity* constants
    "event_velocity_flag" ->
      ("WITH o AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "b AS (SELECT user_id, CAST(COUNT(*) OVER " +
        "(PARTITION BY user_id ORDER BY us RANGE BETWEEN " +
        (graft.operators.Sessionize.VelocityWindowUs - 1) +
        " PRECEDING AND CURRENT ROW) AS BIGINT) AS burst FROM o) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "MAX(burst) AS max_burst, " +
        "MAX(burst) > " + graft.operators.Sessionize.VelocityBurstMax +
        " AS is_burst FROM b GROUP BY 1 ORDER BY 1"),

    // bot-detector replay: exact µs gaps, floor-div mean, ppm spread;
    // thresholds interpolated from the SAME Sessionize.Bot* constants
    "event_bot_detect" ->
      ("WITH o AS (SELECT user_id, event_id, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "g AS (SELECT user_id, us - lag(us) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS gap_us FROM o), " +
        "a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps, " +
        "MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us, " +
        "CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us " +
        "FROM g WHERE gap_us IS NOT NULL GROUP BY 1) " +
        "SELECT user_id, n_gaps, min_gap_us, max_gap_us, " +
        "CAST(sum_gap_us // n_gaps AS BIGINT) AS mean_gap_us, " +
        "CAST((max_gap_us - min_gap_us) * 1000000 // " +
        "greatest(sum_gap_us // n_gaps, 1) AS BIGINT) AS spread_ppm, " +
        "(max_gap_us - min_gap_us) * 1000000 // " +
        s"greatest(sum_gap_us // n_gaps, 1) < ${Sessionize.BotSpreadPpm} AS is_bot " +
        s"FROM a WHERE n_gaps >= ${Sessionize.BotMinGaps} ORDER BY user_id"),

    "event_anomaly" ->
      ("WITH s AS (SELECT event_type, COUNT(*) AS n, " +
        "SUM(CAST(value AS DECIMAL(12,2))) AS sv, " +
        "SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS svv " +
        "FROM events GROUP BY event_type), " +
        "j AS (SELECT e.event_id, e.event_type, e.value, s.n, " +
        "CAST(CAST(s.sv AS VARCHAR) AS DOUBLE) AS dsv, " +
        "CAST(CAST(s.svv AS VARCHAR) AS DOUBLE) AS dsvv " +
        "FROM events e JOIN s USING (event_type)), " +
        "zz AS (SELECT event_id, event_type, value, n, " +
        "sqrt(greatest((n * dsvv - dsv * dsv) / (n * (n - 1)), 0)) AS std, " +
        "(value - dsv / n) AS dev FROM j) " +
        "SELECT event_id, event_type, value, dev / std AS z FROM zz " +
        "WHERE n > 1 AND std > 0 AND abs(dev / std) > 3.0 " +
        "ORDER BY event_id"),

    "row_quarantine" ->
      ("SELECT event_id, raw, " +
        "CASE WHEN json_valid(raw) THEN CAST(raw->>'k' AS BIGINT) END AS k, " +
        // NULL raw must be FALSE, not NULL: Spark's from_json(NULL)
        // yields a null struct whose _corrupt field isNotNull = false
        "CASE WHEN raw IS NULL THEN FALSE ELSE NOT json_valid(raw) END AS quarantined " +
        "FROM (SELECT event_id, CASE WHEN event_id % 7 = 0 THEN '{bad' || props " +
        "ELSE props END AS raw FROM events) ORDER BY event_id"),

    // NTILE over the identical total order (price, then primary key):
    // SQL ntile semantics agree across engines (first n mod k bands
    // take one extra row), so bands replay row-for-row
    "window_ntile" ->
      ("SELECT l_returnflag, tile, COUNT(*) AS n_rows, " +
        "MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
        "FROM (SELECT l_returnflag, l_extendedprice, CAST(NTILE(4) OVER " +
        "(PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS tile " +
        "FROM lineitem) GROUP BY 1, 2 ORDER BY l_returnflag, tile"),

    // RANGE BETWEEN over integer epoch days — identical tie/frame
    // semantics in both engines; exact cents
    "window_range_sum" ->
      ("SELECT o_orderkey, o_custkey, day, cents, " +
        "CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY day " +
        "RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail30_cents, " +
        "COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day " +
        "RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS n_trail30 " +
        "FROM (SELECT o_orderkey, o_custkey, " +
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day, " +
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents " +
        "FROM orders) ORDER BY o_orderkey"),

    // total order (rev, status) → rank ties impossible; the two doubles
    // are one IEEE division each over identical integer-valued operands
    "window_cume" ->
      ("WITH c AS (SELECT l_returnflag, l_linestatus, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev " +
        "FROM lineitem GROUP BY 1, 2) " +
        "SELECT l_returnflag, l_linestatus, CAST(rev AS DOUBLE) AS revenue, " +
        "percent_rank() OVER (PARTITION BY l_returnflag ORDER BY rev, l_linestatus) AS pct_rank, " +
        "cume_dist() OVER (PARTITION BY l_returnflag ORDER BY rev, l_linestatus) AS cume_dist " +
        "FROM c ORDER BY 1, 2"),

    "window_topk" ->
      ("SELECT event_type, rk, user_id, CAST(tot AS DOUBLE) AS total_value FROM (" +
        "SELECT event_type, user_id, tot, ROW_NUMBER() OVER " +
        "(PARTITION BY event_type ORDER BY tot DESC, user_id) AS rk FROM (" +
        "SELECT event_type, user_id, SUM(CAST(value AS DECIMAL(12,2))) AS tot " +
        "FROM events GROUP BY 1, 2)) WHERE rk <= 3 ORDER BY event_type, rk"),

    "set_ops" ->
      ("SELECT 'purchase_minus_error' AS op, user_id FROM " +
        "(SELECT user_id FROM events WHERE event_type = 'purchase' EXCEPT " +
        "SELECT user_id FROM events WHERE event_type = 'error') " +
        "UNION ALL " +
        "SELECT 'signup_and_view' AS op, user_id FROM " +
        "(SELECT user_id FROM events WHERE event_type = 'signup' INTERSECT " +
        "SELECT user_id FROM events WHERE event_type = 'view') " +
        "ORDER BY op, user_id"),

    // overlap replay: the same distinct (type, user) relation,
    // pair self-join, ppm Jaccard from one intersection count
    "event_user_overlap" ->
      ("WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events " +
        "WHERE event_type IS NOT NULL), " +
        "sz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1), " +
        "cm AS (SELECT a.t AS type_a, b.t AS type_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_common " +
        "FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common, " +
        "CAST(n_common * 1000000 // nullif(sa.n + sb.n - n_common, 0) AS BIGINT) AS jaccard_ppm " +
        "FROM cm JOIN sz sa ON type_a = sa.t JOIN sz sb ON type_b = sb.t " +
        "ORDER BY type_a, type_b"),

    "agg_salted" ->
      ("SELECT event_type, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // the salted join is semantically the PLAIN equi-join
    "join_skew_salted" ->
      ("SELECT event_id, user_id, event_type, c_name, c_mktsegment " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "ORDER BY event_id"),

    // SCD2 replay: same µs-truncated ts + event_id ordering discipline
    // as event_journey; first-row detection on the non-null event_id
    // (lag(attr) is NULL both at the head and after a NULL attr)
    // scd2's versions + the half-open containment filter at T
    "dim_snapshot_at" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, " +
        "event_type AS attr FROM events), " +
        "c AS (SELECT user_id, ts, event_id, attr, " +
        "LAG(attr) OVER w AS prev_attr, LAG(event_id) OVER w AS prev_eid " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "v AS (SELECT user_id, attr, ts AS valid_from, " +
        "LEAD(ts) OVER w2 AS valid_to, " +
        "CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version " +
        "FROM c WHERE prev_eid IS NULL OR attr IS DISTINCT FROM prev_attr " +
        "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT user_id, attr, valid_from, version FROM v " +
        "WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00' " +
        "AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00') " +
        "ORDER BY user_id"),

    "dim_scd2" -> sqlScd2,

    // SCD2 upsert replay: the from-scratch historization of the FULL
    // event set IS the oracle — the fold identity under test (a
    // late-batch apply must land exactly where a rebuild would)
    "dim_scd2_upsert" -> sqlScd2,

    // fact-to-version replay: the dim_scd2 CTEs + the half-open
    // containment join from the purchase facts
    "dim_scd2_join" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, " +
        "event_type AS attr FROM events), " +
        "c AS (SELECT user_id, ts, event_id, attr, " +
        "LAG(attr) OVER w AS prev_attr, LAG(event_id) OVER w AS prev_eid " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "v AS (SELECT user_id, attr, ts AS valid_from, " +
        "LEAD(ts) OVER w2 AS valid_to, " +
        "CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version " +
        "FROM c WHERE prev_eid IS NULL OR attr IS DISTINCT FROM prev_attr " +
        "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "f AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT f.user_id, f.event_id, f.ts, f.cents, v.version, v.attr, " +
        "v.valid_to IS NULL AS is_current " +
        "FROM f JOIN v ON f.user_id = v.user_id AND v.valid_from <= f.ts " +
        "AND (v.valid_to IS NULL OR f.ts < v.valid_to) " +
        "ORDER BY f.user_id, f.event_id"),

    // backlog replay: per-order open/close months, month-grid counts,
    // cumulative opened-minus-closed over the calendar-bounded window
    "order_backlog" ->
      ("WITH po AS (SELECT o_orderkey, date_trunc('month', o_orderdate) AS open_m FROM orders), " +
        "cl AS (SELECT l_orderkey, MAX(date_trunc('month', l_shipdate)) AS close_m " +
        "FROM lineitem GROUP BY 1), " +
        "j AS (SELECT open_m, close_m FROM po LEFT JOIN cl ON o_orderkey = l_orderkey), " +
        "o2 AS (SELECT open_m AS month, COUNT(*) AS n_opened FROM j GROUP BY 1), " +
        "c2 AS (SELECT close_m AS month, COUNT(*) AS n_closed FROM j " +
        "WHERE close_m IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT COALESCE(o2.month, c2.month) AS month, " +
        "COALESCE(n_opened, 0) AS n_opened, COALESCE(n_closed, 0) AS n_closed " +
        "FROM o2 FULL JOIN c2 ON o2.month = c2.month) " +
        "SELECT month, CAST(n_opened AS BIGINT) AS n_opened, " +
        "CAST(n_closed AS BIGINT) AS n_closed, " +
        "CAST(SUM(n_opened) OVER w - SUM(n_closed) OVER w AS BIGINT) AS backlog " +
        "FROM m WINDOW w AS (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY month"),

    // PageRank replay: the co-occurrence edges, degrees and two
    // unrolled fixed-point iterations (scale 10^12, truncating //,
    // CAST sums back from DuckDB's HUGEINT) — same unroll doctrine as
    // the IVF training oracle
    // id-ordered triangle enumeration (orientation-free — correctness
    // only), 3 edge contributions per triangle, open-neighborhood union
    "graph_link_jaccard" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), " +
        "tri AS (SELECT p.a AS x, p.b AS y, q.b AS z FROM und p " +
        "JOIN und q ON p.a = q.a AND p.b < q.b " +
        "JOIN und r ON r.a = p.b AND r.b = q.b), " +
        "contrib AS (SELECT LEAST(y, z) AS a, GREATEST(y, z) AS b FROM tri " +
        "UNION ALL SELECT LEAST(x, z), GREATEST(x, z) FROM tri " +
        "UNION ALL SELECT LEAST(x, y), GREATEST(x, y) FROM tri), " +
        "cn AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn FROM contrib GROUP BY 1, 2), " +
        "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (" +
        "SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY 1), " +
        "j AS (SELECT und.a, und.b, COALESCE(cn.cn, 0) AS cn, " +
        "da.deg + db.deg - 2 - COALESCE(cn.cn, 0) AS union_n " +
        "FROM und LEFT JOIN cn ON und.a = cn.a AND und.b = cn.b " +
        "JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n) " +
        "SELECT a, b, cn, union_n, " +
        "CASE WHEN union_n > 0 THEN CAST(cn AS DOUBLE) / union_n ELSE 0.0 END AS jaccard " +
        "FROM j ORDER BY jaccard DESC, a, b LIMIT 20"),

    // degree histogram over the same edge relation; zero-degree parts
    // come from the part universe left join
    "graph_degree_dist" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), " +
        "e AS (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und), " +
        "deg AS (SELECT node, COUNT(*) AS degree FROM e GROUP BY 1), " +
        "nodes AS (SELECT CAST(COALESCE(degree, 0) AS BIGINT) AS degree FROM " +
        "(SELECT DISTINCT p FROM it) q LEFT JOIN deg ON q.p = deg.node) " +
        "SELECT degree, COUNT(*) AS n_nodes FROM nodes GROUP BY 1 ORDER BY 1"),

    "graph_pagerank" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), " +
        "e AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und), " +
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1), " +
        "nodes AS (SELECT p AS part, COALESCE(deg, 0) AS deg FROM " +
        "(SELECT DISTINCT p FROM it) q LEFT JOIN deg ON q.p = deg.src), " +
        "n AS (SELECT COUNT(*) AS n_nodes FROM nodes), " +
        "r0 AS (SELECT part, deg, n_nodes, 1000000000000 // n_nodes AS pr FROM nodes, n), " +
        "c1 AS (SELECT e.dst, CAST(SUM(r0.pr // r0.deg) AS BIGINT) AS contrib " +
        "FROM r0 JOIN e ON r0.part = e.src WHERE r0.deg > 0 GROUP BY 1), " +
        "r1 AS (SELECT part, deg, n_nodes, " +
        "(15 * 1000000000000) // (100 * n_nodes) + (85 * COALESCE(contrib, 0)) // 100 AS pr " +
        "FROM r0 LEFT JOIN c1 ON r0.part = c1.dst), " +
        "c2 AS (SELECT e.dst, CAST(SUM(r1.pr // r1.deg) AS BIGINT) AS contrib " +
        "FROM r1 JOIN e ON r1.part = e.src WHERE r1.deg > 0 GROUP BY 1), " +
        "r2 AS (SELECT part, deg, n_nodes, " +
        "(15 * 1000000000000) // (100 * n_nodes) + (85 * COALESCE(contrib, 0)) // 100 AS pr " +
        "FROM r1 LEFT JOIN c2 ON r1.part = c2.dst) " +
        "SELECT part, deg, pr FROM r2 ORDER BY pr DESC, part LIMIT 30"),

    // k-core replay: the peel chain is GENERATED for the same
    // Graph.KCore* geometry the engine unrolls
    "graph_kcore" -> {
      // AS MATERIALIZED on every generated CTE: DuckDB otherwise
      // inlines the chain and re-opens the parquet per reference
      // ("Too many open files" — the unigram-oracle lesson)
      val front =
        "WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
          "e0 AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), "
      val steps = (1 to Graph.KCoreRounds).map { i =>
        s"d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (" +
          s"SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1), " +
          s"k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= ${Graph.KCoreK}), " +
          s"e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e " +
          s"JOIN k$i x ON e.a = x.node JOIN k$i y ON e.b = y.node)"
      }.mkString(", ")
      val n = Graph.KCoreRounds
      front + steps +
        s", df AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (" +
        s"SELECT a AS node FROM e$n UNION ALL SELECT b FROM e$n) GROUP BY 1) " +
        "SELECT node, core_degree FROM df ORDER BY core_degree DESC, node LIMIT 20"
    },

    // assortativity replay: directed-edge degree join, symmetric
    // Pearson as an integer ratio, sign-split milli
    "graph_assortativity" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "e AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und), " +
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1), " +
        "j AS (SELECT dx.deg AS x, dy.deg AS y FROM e " +
        "JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx, " +
        "CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx FROM j) " +
        "SELECT n AS n_directed, n*sxy - sx*sx AS num, n*sxx - sx*sx AS den, " +
        "CAST(sign(n*sxy - sx*sx) AS BIGINT) * " +
        "((abs(n*sxy - sx*sx) * 1000) // (n*sxx - sx*sx)) AS assort_milli " +
        "FROM s"),

    // LPA replay: the superstep chain is GENERATED for the same
    // Graph.LabelPropIters the engine unrolls; arg-max via ROW_NUMBER
    // with the identical (count DESC, label ASC) tie-break
    "graph_label_prop" -> {
      val front =
        "WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
          "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
          "e AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und), " +
          "l0 AS (SELECT DISTINCT p AS node, p AS lbl FROM it), "
      val steps = (1 to Graph.LabelPropIters).map { i =>
        s"n$i AS (SELECT e.dst AS node, l${i - 1}.lbl, COUNT(*) AS c " +
          s"FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node GROUP BY 1, 2), " +
          s"p$i AS (SELECT node, lbl FROM (SELECT node, lbl, " +
          "ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn " +
          s"FROM n$i) WHERE rn = 1), " +
          s"l$i AS (SELECT l${i - 1}.node, COALESCE(p$i.lbl, l${i - 1}.lbl) AS lbl " +
          s"FROM l${i - 1} LEFT JOIN p$i USING (node))"
      }.mkString(", ")
      front + steps +
        s" SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members " +
        s"FROM l${Graph.LabelPropIters} GROUP BY 1 " +
        "ORDER BY n_members DESC, community LIMIT 20"
    },

    // modularity replay: same unrolled LPA front, then the integer
    // identity Q·4m² over per-community deg/in counts
    "graph_modularity" -> {
      val front =
        "WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
          "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
          "e AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und), " +
          "l0 AS (SELECT DISTINCT p AS node, p AS lbl FROM it), "
      val steps = (1 to Graph.LabelPropIters).map { i =>
        s"n$i AS (SELECT e.dst AS node, l${i - 1}.lbl, COUNT(*) AS c " +
          s"FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node GROUP BY 1, 2), " +
          s"p$i AS (SELECT node, lbl FROM (SELECT node, lbl, " +
          "ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn " +
          s"FROM n$i) WHERE rn = 1), " +
          s"l$i AS (SELECT l${i - 1}.node, COALESCE(p$i.lbl, l${i - 1}.lbl) AS lbl " +
          s"FROM l${i - 1} LEFT JOIN p$i USING (node))"
      }.mkString(", ")
      val L = s"l${Graph.LabelPropIters}"
      front + steps +
        s", degt AS (SELECT $L.lbl, COUNT(*) AS deg FROM e " +
        s"JOIN $L ON e.src = $L.node GROUP BY 1), " +
        s"inct AS (SELECT la.lbl, COUNT(*) AS inc FROM und " +
        s"JOIN $L la ON und.a = la.node JOIN $L lb ON und.b = lb.node " +
        "WHERE la.lbl = lb.lbl GROUP BY 1), " +
        "mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und), " +
        s"per AS (SELECT c.lbl, COALESCE(deg, 0) AS deg, COALESCE(inc, 0) AS inc " +
        s"FROM (SELECT lbl FROM $L GROUP BY 1) c " +
        "LEFT JOIN degt USING (lbl) LEFT JOIN inct USING (lbl)) " +
        "SELECT mm.m AS n_edges, CAST(COUNT(*) AS BIGINT) AS n_communities, " +
        "CAST((SUM(inc) * 1000000) // nullif(mm.m, 0) AS BIGINT) AS intra_ppm, " +
        "CAST(CAST(SUM(CAST(4 AS DECIMAL(38,0)) * mm.m * inc - " +
        "CAST(deg AS DECIMAL(38,0)) * deg) AS VARCHAR) AS DOUBLE) / " +
        "CAST(CAST(CAST(mm.m * 2 AS DECIMAL(38,0)) * (mm.m * 2) AS VARCHAR) AS DOUBLE) " +
        "AS modularity FROM per, mm GROUP BY mm.m"
    },

    // triangle replay: oriented a<b<c joins — each triangle counted
    // exactly once, node participation via the 3-way unnest
    "graph_triangles" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z FROM und ab " +
        "JOIN und bc ON ab.b = bc.a " +
        "JOIN und ac ON ac.a = ab.a AND ac.b = bc.b) " +
        "SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT x AS part FROM tri UNION ALL SELECT y AS part FROM tri " +
        "UNION ALL SELECT z AS part FROM tri) " +
        "GROUP BY part ORDER BY n_triangles DESC, part LIMIT 20"),

    // affinity replay: co-order pair weights + per-part order counts +
    // the identical fixed-order double expressions
    "order_affinity_rules" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT a.p AS a, b.p AS b, CAST(COUNT(*) AS BIGINT) AS w " +
        "FROM it a JOIN it b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), " +
        "cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_orders FROM it GROUP BY 1), " +
        "tot AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_total FROM it) " +
        "SELECT a, b, w AS support, ca.n_orders AS n_a, cb.n_orders AS n_b, " +
        "CAST(w AS DOUBLE) / CAST(ca.n_orders AS DOUBLE) AS conf_ab, " +
        "CAST(w AS DOUBLE) / CAST(cb.n_orders AS DOUBLE) AS conf_ba, " +
        "(CAST(w AS DOUBLE) * CAST(n_total AS DOUBLE)) / " +
        "(CAST(ca.n_orders AS DOUBLE) * CAST(cb.n_orders AS DOUBLE)) AS lift " +
        "FROM und JOIN cnt ca ON und.a = ca.p JOIN cnt cb ON und.b = cb.p, tot " +
        "ORDER BY lift DESC, a, b LIMIT 20"),

    // BFS replay: recursive min-DEPTH reachability from the md5-'00'
    // seeds over the strong-tie (w >= 2) graph, capped at the engine's
    // round count; unreached nodes keep their structural -1 row via
    // the universe left join
    // two-hop reach replay: same inline edge build + md5 seeds, two
    // expansion joins, distinct union, seed excluded
    "graph_two_hop_reach" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p != b.p GROUP BY 1, 2), " +
        "und AS (SELECT a, b FROM wt WHERE w >= 2), " +
        "seeds AS (SELECT DISTINCT p AS seed FROM it " +
        "WHERE substring(md5(CAST(p AS VARCHAR)), 1, 2) = '00'), " +
        "one AS (SELECT DISTINCT s.seed, e.b AS node FROM seeds s " +
        "JOIN und e ON e.a = s.seed), " +
        "two AS (SELECT o.seed, e.b AS node FROM one o JOIN und e ON e.a = o.node), " +
        "reach AS (SELECT DISTINCT seed, node FROM " +
        "(SELECT seed, node FROM one UNION ALL SELECT seed, node FROM two) z " +
        "WHERE node != seed), " +
        "oc AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_one_hop " +
        "FROM one WHERE node != seed GROUP BY 1) " +
        "SELECT r.seed AS node, CAST(COALESCE(oc.n_one_hop, 0) AS BIGINT) AS n_one_hop, " +
        "CAST(COUNT(*) AS BIGINT) AS n_two_hop_reach " +
        "FROM reach r LEFT JOIN oc ON oc.seed = r.seed " +
        "GROUP BY 1, 2 ORDER BY 1"),

    "graph_bfs_layers" ->
      ("WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p != b.p GROUP BY 1, 2), " +
        "und AS (SELECT a, b FROM wt WHERE w >= 2), " +
        "reach(node, depth) AS (" +
        "SELECT p, CAST(0 AS BIGINT) FROM (SELECT DISTINCT p FROM it) " +
        "WHERE substring(md5(CAST(p AS VARCHAR)), 1, 2) = '00' " +
        "UNION " +
        "SELECT e.b, r.depth + 1 FROM reach r JOIN und e ON e.a = r.node " +
        "WHERE r.depth < 6), " +
        "md AS (SELECT node, MIN(depth) AS depth FROM reach GROUP BY 1) " +
        "SELECT COALESCE(md.depth, -1) AS depth, " +
        "CAST(COUNT(*) AS BIGINT) AS n_nodes " +
        "FROM (SELECT DISTINCT p FROM it) n LEFT JOIN md ON n.p = md.node " +
        "GROUP BY 1 ORDER BY 1"),

    // closeness replay: the bfs_layers recursion with the seed CARRIED
    // through — per-seed min depths, one integral ppm division
    "graph_closeness" ->
      ("WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p != b.p GROUP BY 1, 2), " +
        "und AS (SELECT a, b FROM wt WHERE w >= 2), " +
        "reach(seed, node, depth) AS (" +
        "SELECT p, p, CAST(0 AS BIGINT) FROM (SELECT DISTINCT p FROM it) " +
        "WHERE substring(md5(CAST(p AS VARCHAR)), 1, 2) = '00' " +
        "UNION " +
        "SELECT r.seed, e.b, r.depth + 1 FROM reach r JOIN und e ON e.a = r.node " +
        "WHERE r.depth < 4), " +
        "md AS (SELECT seed, node, MIN(depth) AS depth FROM reach GROUP BY 1, 2) " +
        "SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached, " +
        "CAST(SUM(depth) AS BIGINT) AS sum_depth, " +
        "CAST((COUNT(*) - 1) * 1000000 // nullif(SUM(depth), 0) AS BIGINT) " +
        "AS closeness_ppm " +
        "FROM md GROUP BY seed ORDER BY seed"),

    // concurrency replay: shared session CTEs, day-clipped ±1 sweep,
    // per-day running max
    "event_concurrency" ->
      (s"WITH $sqlSessionCtes, " +
        "sess AS (SELECT user_id, MIN(ts) AS sess_start, " +
        "MAX(ts) + INTERVAL 30 MINUTE AS sess_end FROM g GROUP BY user_id, grp), " +
        "ds AS (SELECT sess_start, sess_end, " +
        "unnest(generate_series(date_trunc('day', sess_start), " +
        "date_trunc('day', sess_end - INTERVAL 1 MICROSECOND), INTERVAL 1 DAY)) AS day " +
        "FROM sess), " +
        "dl AS (SELECT day, greatest(sess_start, day) AS ts, 1 AS delta FROM ds " +
        "UNION ALL SELECT day, sess_end, -1 FROM ds " +
        "WHERE sess_end < day + INTERVAL 1 DAY), " +
        "rn AS (SELECT day, delta, SUM(delta) OVER (PARTITION BY day " +
        "ORDER BY ts, delta ROWS UNBOUNDED PRECEDING) AS run FROM dl) " +
        "SELECT day, CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, " +
        "CAST(MAX(run) AS BIGINT) AS peak_concurrency " +
        "FROM rn GROUP BY day ORDER BY day"),

    // runs-test replay: dispersion's grid + levene's doubled median,
    // lag-window runs, the shared z tree
    "stats_runs_test" ->
      (s"WITH dly AS (SELECT event_type, date_trunc('day', ts) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM dly GROUP BY 1), " +
        "grid AS (SELECT event_type, " +
        "unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "ser AS (SELECT g.event_type, g.day, COALESCE(d.y, 0) AS y FROM grid g " +
        "LEFT JOIN dly d ON g.event_type = d.event_type AND g.day = d.day), " +
        "vg AS (SELECT event_type, y AS v, CAST(COUNT(*) AS BIGINT) AS m FROM ser GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, v, SUM(m) OVER (PARTITION BY event_type " +
        "ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm, " +
        "SUM(m) OVER (PARTITION BY event_type) AS nn FROM vg), " +
        "lo2 AS (SELECT event_type, MIN(v) AS v_lo FROM cum WHERE cm >= (nn + 1) // 2 GROUP BY 1), " +
        "hi2 AS (SELECT event_type, MIN(v) AS v_hi FROM cum WHERE cm >= nn // 2 + 1 GROUP BY 1), " +
        "md AS (SELECT event_type, v_lo + v_hi AS med2 FROM lo2 JOIN hi2 USING (event_type)), " +
        "sgn AS (SELECT ser.event_type, ser.day, (2 * ser.y > md.med2) AS s " +
        "FROM ser JOIN md USING (event_type) WHERE 2 * ser.y != md.med2), " +
        "rr AS (SELECT event_type, s, CASE WHEN lag(s) OVER w IS NULL " +
        "OR lag(s) OVER w != s THEN 1 ELSE 0 END AS brk FROM sgn " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY day)), " +
        "f0 AS (SELECT event_type, " +
        "CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN NOT s THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(SUM(brk) AS BIGINT) AS runs FROM rr GROUP BY 1), " +
        "f AS (SELECT *, n1 + n2 AS n FROM f0), " +
        "nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM ser GROUP BY 1) " +
        "SELECT f.event_type, nd.n_days, f.n1, f.n2, f.runs, " +
        "CASE WHEN n1 = 0 OR n2 = 0 OR n < 2 OR 2 * n1 * n2 <= n THEN NULL " +
        s"ELSE ${Relational.RunsZTree} END AS z " +
        "FROM f JOIN nd USING (event_type) ORDER BY 1"),

    // migration replay: same midpoint cutoff, same NTILE rule (both
    // engines distribute tiles by the SQL-standard ceil rule), same
    // new/gone edges
    "customer_segment_migration" ->
      ("WITH b AS (SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders), " +
        "ph AS (SELECT o_custkey, (o_orderdate < (b.lo + " +
        "CAST(date_diff('day', b.lo, b.hi) // 2 AS BIGINT) * INTERVAL 1 DAY)) AS h1, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS spend " +
        "FROM orders, b GROUP BY 1, 2), " +
        "sg AS (SELECT o_custkey, h1, 'q' || CAST(NTILE(4) OVER " +
        "(PARTITION BY h1 ORDER BY spend, o_custkey) AS VARCHAR) AS seg FROM ph), " +
        "a AS (SELECT o_custkey, seg AS seg_from FROM sg WHERE h1), " +
        "c AS (SELECT o_custkey, seg AS seg_to FROM sg WHERE NOT h1), " +
        "j AS (SELECT COALESCE(a.seg_from, 'new') AS seg_from, " +
        "COALESCE(c.seg_to, 'gone') AS seg_to " +
        "FROM a FULL OUTER JOIN c ON a.o_custkey = c.o_custkey), " +
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM j) " +
        "SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n_customers, " +
        "CAST(COUNT(*) * 1000000 // nullif(t.n_total, 0) AS BIGINT) AS share_ppm " +
        "FROM j, t GROUP BY seg_from, seg_to, t.n_total ORDER BY 1, 2"),

    // bands replay: dispersion's grid + nearest-rank selections over
    // the value-grouped cumulative counts
    "stats_daily_bands" ->
      ("WITH dly AS (SELECT event_type, date_trunc('day', ts) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM dly GROUP BY 1), " +
        "grid AS (SELECT event_type, " +
        "unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "ser AS (SELECT g.event_type, COALESCE(d.y, 0) AS y FROM grid g " +
        "LEFT JOIN dly d ON g.event_type = d.event_type AND g.day = d.day), " +
        "vg AS (SELECT event_type, y AS v, CAST(COUNT(*) AS BIGINT) AS m FROM ser GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, v, SUM(m) OVER (PARTITION BY event_type " +
        "ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm, " +
        "SUM(m) OVER (PARTITION BY event_type) AS n FROM vg), " +
        "p10 AS (SELECT event_type, MIN(v) AS p10 FROM cum WHERE cm >= (n + 9) // 10 GROUP BY 1), " +
        "p50 AS (SELECT event_type, MIN(v) AS p50 FROM cum WHERE cm >= (n + 1) // 2 GROUP BY 1), " +
        "p90 AS (SELECT event_type, MIN(v) AS p90 FROM cum WHERE cm >= (9 * n + 9) // 10 GROUP BY 1), " +
        "nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM ser GROUP BY 1) " +
        "SELECT event_type, n_days, p10.p10, p50.p50, p90.p90, " +
        "p90.p90 - p10.p10 AS band_width " +
        "FROM p10 JOIN p50 USING (event_type) JOIN p90 USING (event_type) " +
        "JOIN nd USING (event_type) ORDER BY event_type"),

    // reach replay: the tumbling-window shape with a distinct-user leg
    "event_window_reach" ->
      ("SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS win_start, " +
        "time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS win_end, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1, 2 ORDER BY 1"),

    // error-rate replay: exact ppm, the same shared budget constant
    "event_error_rate" -> {
      val b = Relational.ErrorBudgetPpm
      ("SELECT date_trunc('day', ts) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1000000 // " +
        "nullif(COUNT(*), 0) AS BIGINT) AS err_ppm, " +
        "(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1000000 // " +
        s"nullif(COUNT(*), 0)) > $b AS over_budget " +
        "FROM events GROUP BY 1 ORDER BY 1")
    },

    // null census replay: the same conditional sums, unpivoted via a
    // UNION-driven constant table
    // range-audit replay: one aggregation + the three-column stack
    "quality_value_ranges" ->
      ("WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_min, " +
        "CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_max, " +
        "CAST(COALESCE(SUM(CASE WHEN CAST(l_quantity AS BIGINT) < 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS q_lo, " +
        "CAST(COALESCE(SUM(CASE WHEN CAST(l_quantity AS BIGINT) > 50 THEN 1 ELSE 0 END), 0) AS BIGINT) AS q_hi, " +
        "CAST(MIN(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS d_min, " +
        "CAST(MAX(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS d_max, " +
        "CAST(COALESCE(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_lo, " +
        "CAST(COALESCE(SUM(CASE WHEN CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) > 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_hi, " +
        "CAST(MIN(CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS t_min, " +
        "CAST(MAX(CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS t_max, " +
        "CAST(COALESCE(SUM(CASE WHEN CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t_lo, " +
        "CAST(COALESCE(SUM(CASE WHEN CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) > 8 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t_hi " +
        "FROM lineitem), " +
        "u AS (SELECT 'l_discount_hund' AS \"column\", n, d_min AS min_val, d_max AS max_val, d_lo AS n_below, d_hi AS n_above FROM a " +
        "UNION ALL SELECT 'l_quantity', n, q_min, q_max, q_lo, q_hi FROM a " +
        "UNION ALL SELECT 'l_tax_hund', n, t_min, t_max, t_lo, t_hi FROM a) " +
        "SELECT \"column\", n AS n_rows, min_val, max_val, n_below, n_above " +
        "FROM u ORDER BY \"column\""),

    "quality_null_census" ->
      ("WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(COALESCE(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS et_null, " +
        "CAST(COALESCE(SUM(CASE WHEN event_type IS NOT NULL AND trim(event_type) = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS et_blank, " +
        "CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_null, " +
        "CAST(COALESCE(SUM(CASE WHEN value = 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_zero, " +
        "CAST(COALESCE(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS u_null, " +
        "CAST(COALESCE(SUM(CASE WHEN user_id = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS u_zero, " +
        "CAST(COALESCE(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS p_null, " +
        "CAST(COALESCE(SUM(CASE WHEN props IS NOT NULL AND trim(props) = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS p_blank " +
        "FROM events), " +
        "u AS (SELECT 'event_type' AS \"column\", et_null AS n_null, " +
        "et_blank AS n_blank, CAST(NULL AS BIGINT) AS n_zero, n FROM a " +
        "UNION ALL SELECT 'props', p_null, p_blank, CAST(NULL AS BIGINT), n FROM a " +
        "UNION ALL SELECT 'user_id', u_null, CAST(NULL AS BIGINT), u_zero, n FROM a " +
        "UNION ALL SELECT 'value', v_null, CAST(NULL AS BIGINT), v_zero, n FROM a) " +
        "SELECT \"column\", n AS n_rows, n_null, n_blank, n_zero, " +
        "CAST((n_null * 1000000) // nullif(n, 0) AS BIGINT) AS null_ppm " +
        "FROM u ORDER BY \"column\""),

    // Wilcoxon replay: gap-filled grid, LAG 7, zero-diffs dropped,
    // doubled average ranks over the |d| value groups
    "stats_wilcoxon" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day AS day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "df AS (SELECT x - lag(x, 7) OVER (ORDER BY day) AS dd FROM series), " +
        "nz AS (SELECT abs(dd) AS ad, dd > 0 AS pos FROM df " +
        "WHERE dd IS NOT NULL AND dd != 0), " +
        "grp AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS m, " +
        "CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS mpos FROM nz GROUP BY 1), " +
        "rk AS (SELECT m, mpos, " +
        "(SUM(m) OVER (ORDER BY ad) - m) * 2 + m + 1 AS dr FROM grp), " +
        "st AS (SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_nonzero, " +
        "CAST(COALESCE(SUM(mpos * dr), 0) AS BIGINT) AS w_plus_doubled, " +
        "CAST(COALESCE(SUM((m - mpos) * dr), 0) AS BIGINT) AS w_minus_doubled FROM rk), " +
        "cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM series), " +
        "np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM df WHERE dd IS NOT NULL) " +
        "SELECT cn.n_days, np.n_pairs, st.n_nonzero, st.w_plus_doubled, " +
        "st.w_minus_doubled FROM cn, np, st"),

    // ts-collision replay: same four truncation grains over the µs
    // timestamp (nanos CAST to TIMESTAMP first — the engine's read)
    "quality_ts_collisions" -> {
      def row(name: String, t: String) =
        s"SELECT '$name' AS grain, CAST(COUNT(*) AS BIGINT) AS n_events, " +
          s"CAST(COUNT(DISTINCT $t) AS BIGINT) AS n_distinct FROM e"
      "WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "u AS (" + Seq(
          row("1_microsecond", "ts"),
          row("2_millisecond", "date_trunc('millisecond', ts)"),
          row("3_second", "date_trunc('second', ts)"),
          row("4_minute", "date_trunc('minute', ts)"))
          .mkString(" UNION ALL ") + ") " +
        "SELECT grain, n_events, n_distinct, " +
        "n_events - n_distinct AS n_collisions, " +
        "CAST(((n_events - n_distinct) * 1000000) // nullif(n_events, 0) " +
        "AS BIGINT) AS collision_ppm FROM u ORDER BY grain"
    },

    // sign-test replay: same gap-filled lag-7 pairs, sign census, the
    // identical z² integer text
    "stats_sign_test" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "df AS (SELECT x - LAG(x, 7) OVER (ORDER BY day) AS dd FROM series), " +
        "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(COALESCE(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pos, " +
        "CAST(COALESCE(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neg " +
        "FROM df WHERE dd IS NOT NULL) " +
        "SELECT n_pairs, n_pos + n_neg AS n_nonzero, n_pos, n_neg, " +
        "CAST(((n_pos - n_neg) * (n_pos - n_neg) * 1000) // " +
        "nullif(n_pos + n_neg, 0) AS BIGINT) AS z2_milli FROM agg"),

    // gap-census replay: same grid/series text, epoch-day − row_number
    // islands over the zero days
    "window_gap_census" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "z AS (SELECT day FROM series WHERE x = 0), " +
        "gi AS (SELECT day, datediff('day', DATE '1970-01-01', day) " +
        "- ROW_NUMBER() OVER (ORDER BY day) AS grp FROM z) " +
        "SELECT MIN(day) AS gap_start, CAST(COUNT(*) AS BIGINT) AS gap_days " +
        "FROM gi GROUP BY grp ORDER BY gap_start"),

    // KS-vs-uniform replay: dense 1..7 dow grid (DuckDB dayofweek is
    // 0=Sunday → +1), integer supremum, one IEEE division
    "stats_ks_uniform" ->
      ("WITH cnt AS (SELECT dayofweek(o_orderdate) + 1 AS dw, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1), " +
        "dense AS (SELECT g.dw, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c FROM " +
        "(SELECT unnest(range(1, 8)) AS dw) g LEFT JOIN cnt ON cnt.dw = g.dw), " +
        "n AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_orders FROM dense), " +
        "cum AS (SELECT dw, SUM(c) OVER (ORDER BY dw) AS cum FROM dense) " +
        "SELECT n.n_orders, " +
        "CAST(COALESCE(MAX(ABS(cum.cum * 7 - n.n_orders * cum.dw)), 0) AS BIGINT) AS d_scaled, " +
        "CAST(COALESCE(MAX(ABS(cum.cum * 7 - n.n_orders * cum.dw)), 0) AS DOUBLE) / " +
        "nullif(n.n_orders * 7, 0) AS d " +
        "FROM cum, n GROUP BY n.n_orders"),

    // J–T replay: dense grid, per-group prefix counts, ordered-pair
    // doubled U sum, HUGEINT tie components, identical z tree
    "stats_jonckheere" ->
      ("WITH xs AS (SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS v " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey), " +
        "cnt AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM xs GROUP BY 1, 2), " +
        "mat AS (SELECT gg.g, vv.v, CAST(COALESCE(cnt.cnt, 0) AS BIGINT) AS c FROM " +
        "(SELECT DISTINCT g FROM cnt) gg CROSS JOIN (SELECT DISTINCT v FROM cnt) vv " +
        "LEFT JOIN cnt ON cnt.g = gg.g AND cnt.v = vv.v), " +
        "m AS (SELECT g, v, c, COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt FROM mat), " +
        "j2 AS (SELECT CAST(COALESCE(SUM(mj.c * (mi.clt * 2 + mi.c)), 0) AS BIGINT) AS j_x2 " +
        "FROM m mi JOIN m mj ON mi.v = mj.v AND mi.g < mj.g), " +
        "ng AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM cnt GROUP BY 1), " +
        "gs AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups, CAST(SUM(n) AS BIGINT) AS nn, " +
        "CAST(SUM(n * n) AS BIGINT) AS sum_n2, " +
        "SUM(CAST(n AS HUGEINT) * (n - 1) * (n * 2 + 5)) AS g_a, " +
        "SUM(CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS g_b, " +
        "SUM(CAST(n AS HUGEINT) * (n - 1)) AS g_d FROM ng), " +
        "tv0 AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM cnt GROUP BY 1), " +
        "tsx AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)) AS t_a, " +
        "SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS t_c, " +
        "SUM(CAST(t AS HUGEINT) * (t - 1)) AS t_e FROM tv0), " +
        "vr AS (SELECT CAST(CAST(gs.nn AS HUGEINT) * (gs.nn - 1) * (gs.nn * 2 + 5) " +
        "- gs.g_a - tsx.t_a AS DOUBLE) AS var_a, " +
        "CAST(gs.g_b AS DOUBLE) * CAST(tsx.t_c AS DOUBLE) AS var_bc, " +
        "CAST(gs.g_d AS DOUBLE) * CAST(tsx.t_e AS DOUBLE) AS var_de FROM gs, tsx) " +
        "SELECT gs.nn AS n_rows, gs.k_groups, j2.j_x2, " +
        "gs.nn * gs.nn - gs.sum_n2 AS e_x4, " +
        "(CAST(j2.j_x2 AS DOUBLE) / 2.0 - " +
        "CAST(gs.nn * gs.nn - gs.sum_n2 AS DOUBLE) / 4.0) / " +
        "sqrt(vr.var_a / 72.0 + vr.var_bc / (36.0 * CAST(gs.nn AS DOUBLE) * " +
        "(CAST(gs.nn AS DOUBLE) - 1.0) * (CAST(gs.nn AS DOUBLE) - 2.0)) + " +
        "vr.var_de / (8.0 * CAST(gs.nn AS DOUBLE) * " +
        "(CAST(gs.nn AS DOUBLE) - 1.0))) AS z " +
        "FROM gs, j2, vr"),

    // skyline replay: per-size best price, running max over larger
    // sizes, strict-dominance filter, multiplicity join
    "agg_skyline_2d" ->
      ("WITH g AS (SELECT CAST(p_size AS BIGINT) AS size, " +
        "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price FROM part), " +
        "bs AS (SELECT size, CAST(MAX(price) AS BIGINT) AS best_price_cents FROM g GROUP BY 1), " +
        "sky AS (SELECT size, best_price_cents, " +
        "MAX(best_price_cents) OVER (ORDER BY size DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax FROM bs), " +
        "a AS (SELECT size, price AS best_price_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_at_point FROM g GROUP BY 1, 2) " +
        "SELECT s.size, s.best_price_cents, a.n_at_point " +
        "FROM sky s JOIN a USING (size, best_price_cents) " +
        "WHERE s.rmax IS NULL OR s.best_price_cents > s.rmax " +
        "ORDER BY s.size DESC"),

    // Hodges–Lehmann replay: same lag-7 diffs (zeros kept), Walsh
    // self-join i<=j, k-th order statistic via cumulative counts
    "stats_hodges_lehmann" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "df AS (SELECT day, x - LAG(x, 7) OVER (ORDER BY day) AS dd FROM series), " +
        "ix AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, dd AS d " +
        "FROM df WHERE dd IS NOT NULL), " +
        "walsh AS (SELECT wa.d + wb.d AS w FROM ix wa JOIN ix wb ON wa.i <= wb.i), " +
        "cum AS (SELECT w, SUM(CAST(m AS BIGINT)) OVER (ORDER BY w) AS cum FROM " +
        "(SELECT w, COUNT(*) AS m FROM walsh GROUP BY 1)), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_walsh FROM walsh), " +
        "sel AS (SELECT MIN(CASE WHEN cum >= (n_walsh + 1) // 2 THEN w END) AS w1, " +
        "MIN(CASE WHEN cum >= n_walsh // 2 + 1 THEN w END) AS w2 FROM cum, tot), " +
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_diffs FROM ix) " +
        "SELECT nd.n_diffs, tot.n_walsh, CAST(sel.w1 + sel.w2 AS BIGINT) AS hl_x4 " +
        "FROM nd, tot, sel"),

    // Mann–Kendall replay: same gap-filled grid, indexed self-join
    // pair census, tie-corrected var18, identical z² integer text
    "stats_mann_kendall" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "s AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x FROM series), " +
        "p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(COALESCE(SUM(CASE WHEN pb.x > pa.x THEN 1 " +
        "WHEN pb.x < pa.x THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat " +
        "FROM s pa JOIN s pb ON pa.i < pb.i), " +
        "t AS (SELECT CAST(COALESCE(SUM(m * (m - 1) * (m * 2 + 5)), 0) AS BIGINT) AS tie_term, " +
        "CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_days " +
        "FROM (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s GROUP BY x)), " +
        "v AS (SELECT t.n_days, p.n_pairs, p.s_stat, " +
        "t.n_days * (t.n_days - 1) * (t.n_days * 2 + 5) - t.tie_term AS var18 " +
        "FROM t, p) " +
        "SELECT n_days, n_pairs, s_stat, var18, " +
        "CAST(CASE WHEN s_stat = 0 THEN 0 ELSE " +
        "((abs(s_stat) - 1) * (abs(s_stat) - 1) * 18000) // " +
        "nullif(var18, 0) END AS BIGINT) AS z2_milli FROM v"),

    // Kruskal–Wallis replay: doubled average ranks on the quantity
    // grid, per-group IEEE terms, sorted list_reduce fold, fixed H tree
    "stats_kruskal" ->
      ("WITH g AS (SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1, 2), " +
        "m AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS m FROM g GROUP BY 1), " +
        "dr AS (SELECT v, (SUM(m) OVER (ORDER BY v) - m) * 2 + m + 1 AS dr FROM m), " +
        "sums AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n, " +
        "CAST(SUM(cnt * dr.dr) AS BIGINT) AS r_sum_doubled " +
        "FROM g JOIN dr USING (v) GROUP BY 1), " +
        "t AS (SELECT grp, n, r_sum_doubled, " +
        "(CAST(r_sum_doubled AS DOUBLE) * CAST(r_sum_doubled AS DOUBLE)) / " +
        "CAST(n * 4 AS DOUBLE) AS term FROM sums), " +
        "ties AS (SELECT CAST(COALESCE(SUM(m * m * m - m), 0) AS BIGINT) AS tie_cubes FROM m), " +
        "h AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, " +
        "list_reduce(list(term ORDER BY grp), (a, b) -> a + b) AS sumterm FROM t) " +
        "SELECT t.grp AS l_returnflag, t.n, t.r_sum_doubled, ties.tie_cubes, " +
        "12.0 / (CAST(h.nn AS DOUBLE) * (CAST(h.nn AS DOUBLE) + 1.0)) * h.sumterm " +
        "- 3.0 * (CAST(h.nn AS DOUBLE) + 1.0) AS h " +
        "FROM t, ties, h ORDER BY l_returnflag"),

    // Cliff's delta replay: cumulative pair census on the cents grid,
    // HUGEINT-headroom ppm division
    "stats_cliffs_delta" ->
      ("WITH g AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb " +
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "cum AS (SELECT na, nb, " +
        "COALESCE(SUM(nb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cblt, " +
        "SUM(nb) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cble, " +
        "SUM(nb) OVER () AS nbtot FROM g), " +
        "a AS (SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a, " +
        "CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b, " +
        "CAST(COALESCE(SUM(na * cblt), 0) AS BIGINT) AS n_gt, " +
        "CAST(COALESCE(SUM(na * (nbtot - cble)), 0) AS BIGINT) AS n_lt FROM cum) " +
        "SELECT n_a, n_b, n_gt, n_lt, n_a * n_b - n_gt - n_lt AS n_tie, " +
        "CAST(CASE WHEN n_gt >= n_lt THEN " +
        "(CAST(n_gt - n_lt AS HUGEINT) * 1000000) // nullif(CAST(n_a AS HUGEINT) * n_b, 0) " +
        "ELSE -((CAST(n_lt - n_gt AS HUGEINT) * 1000000) // nullif(CAST(n_a AS HUGEINT) * n_b, 0)) " +
        "END AS BIGINT) AS delta_ppm FROM a"),

    // DoD-change replay: same grid, LAG 1, identical sign-split text
    "window_pct_change" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "lg AS (SELECT day, x, LAG(x, 1) OVER (ORDER BY day) AS prev_cents FROM series) " +
        "SELECT day, x AS rev_cents, prev_cents, " +
        "CAST(CASE WHEN x >= prev_cents THEN " +
        "((x - prev_cents) * 10000) // nullif(prev_cents, 0) " +
        "ELSE -(((prev_cents - x) * 10000) // nullif(prev_cents, 0)) " +
        "END AS BIGINT) AS chg_bps " +
        "FROM lg WHERE prev_cents IS NOT NULL ORDER BY day"),

    // peak-days replay: gap-filled daily counts, strict two-sided
    // local maxima, endpoints excluded
    "event_peak_days" ->
      ("WITH d AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(cnt, 0) AS BIGINT) AS n_events " +
        "FROM grid g LEFT JOIN d USING (day)), " +
        "lg AS (SELECT day, n_events, " +
        "LAG(n_events, 1) OVER (ORDER BY day) AS prev_cnt, " +
        "LEAD(n_events, 1) OVER (ORDER BY day) AS next_cnt FROM series) " +
        "SELECT day, n_events, prev_cnt, next_cnt FROM lg " +
        "WHERE prev_cnt IS NOT NULL AND next_cnt IS NOT NULL " +
        "AND n_events > prev_cnt AND n_events > next_cnt ORDER BY day"),

    // drawdown replay: same grid, cumulative-max window, exact cents
    "window_drawdown" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "series AS (SELECT g.day, CAST(COALESCE(rev, 0) AS BIGINT) AS x " +
        "FROM grid g LEFT JOIN d USING (day)) " +
        "SELECT day, x AS rev_cents, " +
        "CAST(MAX(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak_cents, " +
        "CAST(MAX(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - x AS BIGINT) AS drawdown_cents " +
        "FROM series ORDER BY day"),

    // Friedman replay: complete Monday-start weeks, per-block doubled
    // ranks on the (week, value) grid, same integer χ²_F text
    "stats_friedman" ->
      (s"WITH $sqlFriedmanRanks, " +
        "sums AS (SELECT dow, CAST(COUNT(DISTINCT week) AS BIGINT) AS n_blocks, " +
        "CAST(SUM(dr) AS BIGINT) AS r_sum_doubled FROM rk GROUP BY 1), " +
        "chi AS (SELECT CAST(CASE WHEN MAX(n_blocks) = 0 THEN NULL ELSE " +
        "(3000 * SUM(r_sum_doubled * r_sum_doubled)) // (MAX(n_blocks) * 7 * 8) " +
        "- 3000 * MAX(n_blocks) * 8 END AS BIGINT) AS chi2f_milli FROM sums) " +
        "SELECT sums.dow, sums.n_blocks, sums.r_sum_doubled, chi.chi2f_milli " +
        "FROM sums CROSS JOIN chi ORDER BY sums.dow"),

    // Nemenyi post-hoc replay: same ranked blocks, 21-pair self-join,
    // identical crit-ratio integer text (q²·10⁶ = 8696601, k(k+1)=56)
    "stats_nemenyi" ->
      (s"WITH $sqlFriedmanRanks, " +
        "sums AS (SELECT dow, CAST(COUNT(DISTINCT week) AS BIGINT) AS n, " +
        "CAST(SUM(dr) AS BIGINT) AS r FROM rk GROUP BY 1) " +
        "SELECT a.dow AS dow_a, b.dow AS dow_b, a.n AS n_blocks, " +
        "abs(a.r - b.r) AS gap_doubled, " +
        "CAST((abs(a.r - b.r) * 500) // nullif(a.n, 0) AS BIGINT) AS gap_mean_milli, " +
        "CAST((CAST(abs(a.r - b.r) AS HUGEINT) * abs(a.r - b.r) " +
        "* 6000000 * 1000000) // (8696601 * 224 * nullif(a.n, 0)) AS BIGINT) " +
        "AS crit_ratio_ppm " +
        "FROM sums a JOIN sums b ON a.dow < b.dow ORDER BY 1, 2"),

    // Page trend replay: Σ dow·dr over the same ranks, the identical
    // untied-variance z² integer text
    "stats_page_trend" ->
      (s"WITH $sqlFriedmanRanks, " +
        "agg AS (SELECT CAST(COUNT(DISTINCT week) AS BIGINT) AS n_blocks, " +
        "CAST(SUM(dow * dr) AS BIGINT) AS l_doubled FROM rk) " +
        "SELECT n_blocks, l_doubled, n_blocks * 224 AS e_l_doubled, " +
        "CAST(CASE WHEN l_doubled > n_blocks * 224 THEN 1 " +
        "WHEN l_doubled < n_blocks * 224 THEN -1 ELSE 0 END AS BIGINT) AS trend_sign, " +
        "CAST((CAST(l_doubled - n_blocks * 224 AS HUGEINT) * " +
        "(l_doubled - n_blocks * 224) * 3000) // (1568 * nullif(n_blocks, 0)) " +
        "AS BIGINT) AS z2_milli FROM agg"),

    // WAU streaming parity: the batch relation IS the oracle — the
    // streaming leg must reproduce it exactly
    "stream_wau_parity" ->
      ("WITH p AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id FROM events), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM p), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "c AS (SELECT p.user_id, p.day + o.o * INTERVAL 1 DAY AS day " +
        "FROM p, (SELECT unnest(range(0, 7)) AS o) o, b " +
        "WHERE p.day + o.o * INTERVAL 1 DAY <= b.hi), " +
        "w AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7 FROM c GROUP BY 1), " +
        "da AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM p GROUP BY 1) " +
        "SELECT grid.day, CAST(COALESCE(da.dau, 0) AS BIGINT) AS dau, " +
        "CAST(COALESCE(w.wau7, 0) AS BIGINT) AS wau7, " +
        "grid.day >= b.lo + INTERVAL 6 DAY AS full_window " +
        "FROM grid LEFT JOIN w USING (day) LEFT JOIN da USING (day) " +
        "CROSS JOIN b ORDER BY grid.day"),

    // rolling-WAU replay: deduped (user, day), 7-day contribution
    // fan-out clipped at the observed max, distinct count per day
    "event_rolling_wau" ->
      ("WITH p AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id FROM events), " +
        "b AS (SELECT min(day) AS lo, max(day) AS hi FROM p), " +
        "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "c AS (SELECT p.user_id, p.day + INTERVAL (o.o) DAY AS day " +
        "FROM p, (SELECT unnest(range(0, 7)) AS o) o, b " +
        "WHERE p.day + INTERVAL (o.o) DAY <= b.hi), " +
        "w AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7 FROM c GROUP BY 1), " +
        "da AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM p GROUP BY 1) " +
        "SELECT grid.day, CAST(COALESCE(da.dau, 0) AS BIGINT) AS dau, " +
        "CAST(COALESCE(w.wau7, 0) AS BIGINT) AS wau7, " +
        "grid.day >= b.lo + INTERVAL 6 DAY AS full_window " +
        "FROM grid LEFT JOIN w USING (day) LEFT JOIN da USING (day) " +
        "CROSS JOIN b ORDER BY grid.day"),

    // permutation replay: same md5 arm redraws, the identical
    // cross-multiplied comparison in HUGEINT, (n_ge+1)/(B+1) milli
    "stats_perm_test" -> {
      val b = graft.operators.Relational.PermB
      "WITH k AS (SELECT event_id, CAST(user_id % 2 AS INT) AS arm, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c " +
        "FROM events WHERE event_type = 'purchase'), " +
        "obs AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0o, " +
        "CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) END), 0) AS HUGEINT) AS s0o, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1o, " +
        "CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) END), 0) AS HUGEINT) AS s1o FROM k), " +
        "p AS (SELECT k.c, rb.rb, CAST(CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':' || CAST(rb.rb AS VARCHAR)), 1, 7)) AS BIGINT) % 2 AS INT) AS parm " +
        s"FROM k, (SELECT unnest(range(0, $b)) AS rb) rb), " +
        "pr AS (SELECT rb, CAST(SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
        "CAST(COALESCE(SUM(CASE WHEN parm = 0 THEN CAST(c AS HUGEINT) END), 0) AS HUGEINT) AS s0, " +
        "CAST(SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(COALESCE(SUM(CASE WHEN parm = 1 THEN CAST(c AS HUGEINT) END), 0) AS HUGEINT) AS s1 " +
        "FROM p GROUP BY 1), " +
        "ge AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_perms, " +
        "CAST(SUM(CASE WHEN pr.n0 = 0 OR pr.n1 = 0 THEN 1 " +
        "WHEN abs(pr.s1 * pr.n0 - pr.s0 * pr.n1) * (CAST(obs.n0o AS HUGEINT) * obs.n1o) >= " +
        "abs(obs.s1o * obs.n0o - obs.s0o * obs.n1o) * (CAST(pr.n0 AS HUGEINT) * pr.n1) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_ge FROM pr, obs) " +
        "SELECT 'purchase' AS event_type, obs.n0o AS n0, obs.n1o AS n1, " +
        "ge.n_perms, ge.n_ge, " +
        s"CAST(((ge.n_ge + 1) * 1000) // ${b + 1} AS BIGINT) AS p_milli " +
        "FROM ge, obs"
    },

    // freshness replay: same per-type max, exact µs lag, same rank
    "quality_freshness" ->
      ("WITH pt AS (SELECT event_type, MAX(CAST(ts AS TIMESTAMP)) AS last_ts " +
        "FROM events GROUP BY 1), " +
        "g AS (SELECT MAX(last_ts) AS global_ts FROM pt) " +
        "SELECT event_type, last_ts, " +
        "CAST(epoch_us(global_ts) - epoch_us(last_ts) AS BIGINT) AS lag_us, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY epoch_us(global_ts) - epoch_us(last_ts), " +
        "event_type) AS BIGINT) AS freshness_rank " +
        "FROM pt, g ORDER BY event_type"),

    // degree-gini replay: co-order degrees → the order_gini tail
    "graph_degree_gini" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b FROM it a " +
        "JOIN it b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), " +
        "dg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (" +
        "SELECT a AS n FROM wt UNION ALL SELECT b FROM wt) GROUP BY 1), " +
        "g AS (SELECT d AS v, COUNT(*) AS cnt FROM dg GROUP BY 1), " +
        "r AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt FROM g), " +
        "s AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_nodes, " +
        "CAST(COALESCE(SUM(v * cnt), 0) AS BIGINT) AS sum_degree, " +
        "CAST(COALESCE(SUM(v * (cnt * clt + (cnt * (cnt + 1)) // 2)), 0) AS BIGINT) AS rw FROM r) " +
        "SELECT n_nodes, sum_degree, " +
        "CAST(2 * rw - (n_nodes + 1) * sum_degree AS BIGINT) AS gini_num, " +
        "CAST(2 * rw - (n_nodes + 1) * sum_degree AS DOUBLE) / " +
        "nullif(n_nodes * sum_degree, 0) AS gini " +
        "FROM s"),

    // weight-histogram replay: the co-order edge build + bin() buckets
    "graph_weight_hist" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "wt AS (SELECT a.p AS a, b.p AS b, CAST(COUNT(*) AS BIGINT) AS w " +
        "FROM it a JOIN it b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2) " +
        "SELECT CAST(length(bin(w)) AS BIGINT) AS w_bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_edges, " +
        "CAST(MIN(w) AS BIGINT) AS w_min, CAST(MAX(w) AS BIGINT) AS w_max, " +
        "CAST(SUM(w) AS BIGINT) AS total_pairs, " +
        "CAST(SUM(CASE WHEN w >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong " +
        "FROM wt GROUP BY 1 ORDER BY 1"),

    // seasonal replay: same grid + centered window; DuckDB dayofweek
    // is 0=Sunday where Spark's is 1=Sunday — the +1 aligns them
    "stats_seasonal_dow" ->
      ("WITH dly AS (SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS y " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM dly), " +
        "grid AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), " +
        "CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b), " +
        "ser AS (SELECT g.day, COALESCE(d.y, 0) AS y FROM grid g " +
        "LEFT JOIN dly d USING (day)), " +
        "tw AS (SELECT day, y, SUM(y) OVER w AS trend7, COUNT(*) OVER w AS nwin " +
        "FROM ser WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "dt AS (SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow, " +
        "y * 7 - trend7 AS det FROM tw WHERE nwin = 7) " +
        "SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(det) AS BIGINT) AS detrended_sum_x7, " +
        "CAST(CASE WHEN SUM(det) < 0 " +
        "THEN -((abs(SUM(det)) * 1000) // (7 * COUNT(*))) " +
        "ELSE (SUM(det) * 1000) // (7 * COUNT(*)) END AS BIGINT) AS seasonal_milli " +
        "FROM dt GROUP BY 1 ORDER BY 1"),

    // PK-audit replay: one grouped-count audit per entity, generated
    // from the SAME (entity, table, key-expression) list
    "quality_pk_audit" -> {
      val parts = PkAudits.map { case (entity, table, keySql) =>
        "SELECT " + s"'$entity' AS entity, " +
          "CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows, " +
          "CAST(COUNT(k) AS BIGINT) AS n_keys, " +
          "CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND c > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS dup_keys, " +
          "CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND c > 1 THEN c - 1 ELSE 0 END), 0) AS BIGINT) AS dup_rows, " +
          "CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN c ELSE 0 END), 0) AS BIGINT) AS null_rows, " +
          "(COALESCE(SUM(CASE WHEN k IS NOT NULL AND c > 1 THEN 1 ELSE 0 END), 0) = 0 " +
          "AND COALESCE(SUM(CASE WHEN k IS NULL THEN c ELSE 0 END), 0) = 0) AS is_unique " +
          s"FROM (SELECT k, COUNT(*) AS c FROM (SELECT $keySql AS k FROM $table) GROUP BY k)"
      }
      s"SELECT * FROM (${parts.mkString(" UNION ALL ")}) ORDER BY entity"
    },

    // interpolation replay: lead() anchor segments, gap→segment range
    // join, the same sign-split interpolant
    "window_interpolate" ->
      ("WITH dly AS (SELECT o_orderdate AS day, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS y " +
        "FROM orders GROUP BY 1), " +
        "seg AS (SELECT day AS d0, y AS y0, lead(day) OVER (ORDER BY day) AS d1, " +
        "lead(y) OVER (ORDER BY day) AS y1 FROM dly), " +
        "b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM dly), " +
        "grid AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), " +
        "CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b), " +
        "gaps AS (SELECT day FROM grid WHERE day NOT IN (SELECT day FROM dly)), " +
        "ip AS (SELECT g.day, seg.y0 + (CASE " +
        "WHEN (y1 - y0) * date_diff('day', d0, g.day) < 0 " +
        "THEN -(abs((y1 - y0) * date_diff('day', d0, g.day)) // date_diff('day', d0, d1)) " +
        "ELSE ((y1 - y0) * date_diff('day', d0, g.day)) // date_diff('day', d0, d1) END) AS cents " +
        "FROM gaps g JOIN seg ON g.day > seg.d0 AND g.day < seg.d1 " +
        "WHERE seg.d1 IS NOT NULL) " +
        "SELECT day, CAST(cents AS BIGINT) AS cents, interpolated FROM (" +
        "SELECT day, y AS cents, FALSE AS interpolated FROM dly " +
        "UNION ALL SELECT day, cents, TRUE FROM ip) ORDER BY day"),

    // hourly-profile replay: completed 0..23 grid per type, exact ppm,
    // the same deterministic peak rank
    "event_hourly_profile" ->
      ("WITH hc AS (SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hour, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "ty AS (SELECT DISTINCT event_type FROM events), " +
        "grid AS (SELECT event_type, unnest(range(0, 24)) AS hour FROM ty), " +
        "j AS (SELECT grid.event_type, grid.hour, COALESCE(hc.n, 0) AS n_events " +
        "FROM grid LEFT JOIN hc ON grid.event_type = hc.event_type AND grid.hour = hc.hour), " +
        "t AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS n_total FROM j GROUP BY 1) " +
        "SELECT j.event_type, j.hour, j.n_events, " +
        "CAST(j.n_events * 1000000 // nullif(t.n_total, 0) AS BIGINT) AS share_ppm, " +
        "(ROW_NUMBER() OVER (PARTITION BY j.event_type " +
        "ORDER BY j.n_events DESC, j.hour) = 1) AS is_peak " +
        "FROM j JOIN t USING (event_type) ORDER BY 1, 2"),

    // dispersion replay: same gap-filled grid, HUGEINT squares, one
    // integral ppm division (numerator nonnegative by Cauchy–Schwarz)
    "stats_dispersion" ->
      ("WITH dly AS (SELECT event_type, date_trunc('day', ts) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM dly GROUP BY 1), " +
        "grid AS (SELECT event_type, " +
        "unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), " +
        "ser AS (SELECT g.event_type, COALESCE(d.y, 0) AS y FROM grid g " +
        "LEFT JOIN dly d ON g.event_type = d.event_type AND g.day = d.day), " +
        "f AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(y) AS BIGINT) AS s, SUM(CAST(y AS HUGEINT) * y) AS q FROM ser GROUP BY 1) " +
        "SELECT event_type, n_days, s AS sum_events, " +
        "CASE WHEN n_days < 2 OR s = 0 THEN NULL ELSE " +
        "CAST(((n_days * q - CAST(s AS HUGEINT) * s) * 1000000) // " +
        "((n_days - 1) * CAST(s AS HUGEINT)) AS BIGINT) END AS dispersion_ppm " +
        "FROM f ORDER BY 1"),

    // components replay: recursive min-label reachability over the
    // co-order edges (the dedup_cluster reach pattern on parts), then
    // the size histogram; universe-seeded so singletons are structural
    "graph_components" ->
      ("WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und), " +
        "reach(node, lbl) AS (" +
        "SELECT p, p FROM (SELECT DISTINCT p FROM it) " +
        "UNION " +
        "SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node WHERE r.lbl < e.b), " +
        "comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node), " +
        "szs AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY lbl) " +
        "SELECT sz AS component_size, COUNT(*) AS n_components, " +
        "CAST(SUM(sz) AS BIGINT) AS n_nodes FROM szs GROUP BY sz ORDER BY sz"),

    // clustering coefficient replay: same triangle CTEs (per-node counts
    // are orientation-invariant), exact-integer numerator/denominator,
    // ONE IEEE division — bit-replayable; degree < 2 excluded,
    // triangle-free nodes structural 0.0
    "graph_cluster_coeff" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM it a JOIN it b ON a.o = b.o AND a.p < b.p), " +
        "tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z FROM und ab " +
        "JOIN und bc ON ab.b = bc.a " +
        "JOIN und ac ON ac.a = ab.a AND ac.b = bc.b), " +
        "tc AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT x AS part FROM tri UNION ALL SELECT y AS part FROM tri " +
        "UNION ALL SELECT z AS part FROM tri) GROUP BY part), " +
        "e AS (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und), " +
        "deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY 1) " +
        "SELECT d.node AS part, d.degree, " +
        "CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles, " +
        "CAST(2 * COALESCE(tc.n_triangles, 0) AS DOUBLE) / " +
        "CAST(d.degree * (d.degree - 1) AS DOUBLE) AS coeff " +
        "FROM deg d LEFT JOIN tc ON d.node = tc.part WHERE d.degree >= 2 " +
        "ORDER BY coeff DESC, part LIMIT 20"),

    // Benford replay: exact cents → leading decimal-string digit, the
    // expected table generated from the SAME Relational.BenfordPpm
    // constant the engine joins — structural 9-row left join, ppm floors
    "stats_benford" ->
      ("WITH k AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit FROM orders), " +
        "c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM k WHERE digit >= 1 GROUP BY 1), " +
        "t AS (SELECT SUM(n) AS total FROM c), " +
        "e AS (SELECT * FROM (VALUES " +
        graft.operators.Relational.BenfordPpm
          .map { case (d, p) => s"($d, CAST($p AS BIGINT))" }.mkString(", ") +
        ") AS e(digit, benford_ppm)) " +
        "SELECT e.digit, COALESCE(c.n, 0) AS n, " +
        "CAST(COALESCE(c.n, 0) * 1000000 // t.total AS BIGINT) AS pct_ppm, " +
        "e.benford_ppm, " +
        "CAST(COALESCE(c.n, 0) * 1000000 // t.total - e.benford_ppm AS BIGINT) AS dev_ppm " +
        "FROM e CROSS JOIN t LEFT JOIN c ON e.digit = c.digit ORDER BY e.digit"),

    // histogram replay: DECIMAL(12,2)*100 cents are exact integers, so
    // bucket = (c-lo)*16 // (range+1) is pure integer arithmetic
    "stats_histogram" ->
      ("WITH k AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT) AS c FROM orders), " +
        "b AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM k) " +
        "SELECT ((c - lo) * 16) // (hi - lo + 1) AS bucket, COUNT(*) AS n, " +
        "MIN(c) AS cents_min, MAX(c) AS cents_max " +
        "FROM k, b GROUP BY 1 ORDER BY 1"),

    // exact integer months (year*12+month), cents, per-cell distincts
    "order_cohort_ltv" ->
      ("WITH k AS (SELECT o_custkey, " +
        "CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m, " +
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM orders), " +
        "f AS (SELECT o_custkey, MIN(m) AS m0 FROM k GROUP BY 1), " +
        "cells AS (SELECT k.o_custkey, f.m0 AS cohort_month, " +
        "k.m - f.m0 AS month_offset, k.c FROM k JOIN f USING (o_custkey)), " +
        "r AS (SELECT cohort_month, month_offset, CAST(SUM(c) AS BIGINT) AS cents " +
        "FROM cells GROUP BY 1, 2), " +
        "a AS (SELECT cohort_month, month_offset, CAST(COUNT(*) AS BIGINT) AS n_active " +
        "FROM (SELECT DISTINCT cohort_month, month_offset, o_custkey FROM cells) GROUP BY 1, 2) " +
        "SELECT r.cohort_month, r.month_offset, a.n_active, r.cents " +
        "FROM r JOIN a USING (cohort_month, month_offset) ORDER BY 1, 2"),

    // RFM replay: per-customer metrics (cents via the decimal bridge),
    // the md5 bottom-256 reservoir per metric (window-rank form — same
    // multiset as BottomKAgg under (hash, value) order), nearest-rank
    // quintile edges, strict-greater banding, segment-grid rollup.
    "customer_rfm" ->
      ("WITH cm AS (SELECT o_custkey, MAX(o_orderdate) AS last_order, " +
        "CAST(COUNT(*) AS BIGINT) AS f, " +
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS m " +
        "FROM orders GROUP BY 1), " +
        "rf AS (SELECT MAX(o_orderdate) AS ref_date FROM orders), " +
        "c2 AS (SELECT o_custkey, " +
        "CAST(date_diff('day', CAST(last_order AS DATE), CAST(ref_date AS DATE)) AS BIGINT) AS r_days, " +
        "f, m, CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 7)) AS BIGINT) AS h " +
        "FROM cm, rf), " +
        "kr AS (SELECT v, row_number() OVER (ORDER BY v) AS vr, COUNT(*) OVER () AS n FROM " +
        "(SELECT CAST(r_days AS DOUBLE) AS v FROM (SELECT r_days, " +
        "row_number() OVER (ORDER BY h, CAST(r_days AS DOUBLE)) AS rn FROM c2) WHERE rn <= 256)), " +
        "er AS (SELECT MAX(CASE WHEN vr = (20*n+99)//100 THEN v END) AS e20, " +
        "MAX(CASE WHEN vr = (40*n+99)//100 THEN v END) AS e40, " +
        "MAX(CASE WHEN vr = (60*n+99)//100 THEN v END) AS e60, " +
        "MAX(CASE WHEN vr = (80*n+99)//100 THEN v END) AS e80 FROM kr), " +
        "kf AS (SELECT v, row_number() OVER (ORDER BY v) AS vr, COUNT(*) OVER () AS n FROM " +
        "(SELECT CAST(f AS DOUBLE) AS v FROM (SELECT f, " +
        "row_number() OVER (ORDER BY h, CAST(f AS DOUBLE)) AS rn FROM c2) WHERE rn <= 256)), " +
        "ef AS (SELECT MAX(CASE WHEN vr = (20*n+99)//100 THEN v END) AS e20, " +
        "MAX(CASE WHEN vr = (40*n+99)//100 THEN v END) AS e40, " +
        "MAX(CASE WHEN vr = (60*n+99)//100 THEN v END) AS e60, " +
        "MAX(CASE WHEN vr = (80*n+99)//100 THEN v END) AS e80 FROM kf), " +
        "km AS (SELECT v, row_number() OVER (ORDER BY v) AS vr, COUNT(*) OVER () AS n FROM " +
        "(SELECT CAST(m AS DOUBLE) AS v FROM (SELECT m, " +
        "row_number() OVER (ORDER BY h, CAST(m AS DOUBLE)) AS rn FROM c2) WHERE rn <= 256)), " +
        "em AS (SELECT MAX(CASE WHEN vr = (20*n+99)//100 THEN v END) AS e20, " +
        "MAX(CASE WHEN vr = (40*n+99)//100 THEN v END) AS e40, " +
        "MAX(CASE WHEN vr = (60*n+99)//100 THEN v END) AS e60, " +
        "MAX(CASE WHEN vr = (80*n+99)//100 THEN v END) AS e80 FROM km), " +
        "b AS (SELECT c2.m, " +
        "1 + (CASE WHEN CAST(r_days AS DOUBLE) > er.e20 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(r_days AS DOUBLE) > er.e40 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(r_days AS DOUBLE) > er.e60 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(r_days AS DOUBLE) > er.e80 THEN 1 ELSE 0 END) AS r_band, " +
        "1 + (CASE WHEN CAST(f AS DOUBLE) > ef.e20 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(f AS DOUBLE) > ef.e40 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(f AS DOUBLE) > ef.e60 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(f AS DOUBLE) > ef.e80 THEN 1 ELSE 0 END) AS f_band, " +
        "1 + (CASE WHEN CAST(m AS DOUBLE) > em.e20 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(m AS DOUBLE) > em.e40 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(m AS DOUBLE) > em.e60 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN CAST(m AS DOUBLE) > em.e80 THEN 1 ELSE 0 END) AS m_band " +
        "FROM c2, er, ef, em) " +
        "SELECT CAST(r_band AS BIGINT) AS r_band, CAST(f_band AS BIGINT) AS f_band, " +
        "CAST(m_band AS BIGINT) AS m_band, COUNT(*) AS n_customers, " +
        "CAST(SUM(m) AS BIGINT) AS monetary_cents FROM b " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // the oracle pays the all-pairs join the engine's segment filter
    // avoids — correctness contract only (64 distinct names at any SF)
    "join_fuzzy" ->
      ("WITH n AS (SELECT p_name AS name, COUNT(*) AS n_parts FROM part GROUP BY 1) " +
        "SELECT a.name AS name_a, b.name AS name_b, " +
        "CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist, " +
        "a.n_parts AS n_a, b.n_parts AS n_b " +
        "FROM n a JOIN n b ON a.name < b.name " +
        "AND levenshtein(a.name, b.name) <= 2 " +
        "ORDER BY name_a, name_b"),

    // rank-family replay: the ties order for the rank trio, the fully
    // tie-broken order for row_number — identical window specs
    "window_ranks" ->
      ("WITH e AS (SELECT user_id, event_id, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM events) " +
        "SELECT user_id, event_id, c, " +
        "CAST(rank() OVER wt AS BIGINT) AS rnk, " +
        "CAST(dense_rank() OVER wt AS BIGINT) AS drnk, " +
        "percent_rank() OVER wt AS prnk, " +
        "CAST(row_number() OVER wf AS BIGINT) AS rn " +
        "FROM e WINDOW wt AS (PARTITION BY user_id ORDER BY c DESC), " +
        "wf AS (PARTITION BY user_id ORDER BY c DESC, event_id) " +
        "ORDER BY user_id, rn"),

    // frame-boundary replay: identical explicit unbounded-following
    // frame on both engines (the default frame would yield a running
    // last_value — the trap the key pins)
    "window_first_last" ->
      ("SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "first_value(event_type) OVER w AS first_type, " +
        "last_value(event_type) OVER w AS last_type, " +
        "nth_value(event_type, 2) OVER w AS second_type " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY user_id, ts, event_id"),

    "window_lag_lead" ->
      ("SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "LAG(event_id) OVER w AS prev_event_id, " +
        "LEAD(event_id) OVER w AS next_event_id, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) - " +
        "LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY user_id, ts, event_id"),

    // Exact-rational type-7 interpolation replayed formula-for-formula
    // (NOT quantile_cont, whose double interpolation could drift a ulp):
    // integer position arithmetic, bracketing order statistics off a
    // distinct-value rank frame, one double division per quartile.
    "text_len_quantiles" ->
      ("WITH c AS (SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY n_chars), " +
        "cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS hi_rank, " +
        "SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS lo_rank FROM c), " +
        "nn AS (SELECT COUNT(*) AS n, MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents), " +
        "qq AS (SELECT * FROM (VALUES ('p25',1,4),('p50',1,2),('p75',3,4),('p90',9,10)) AS t(qname,num,den)), " +
        "r AS (SELECT qname, den, (n-1)*num % den AS rem, (n-1)*num // den + 1 AS klo FROM nn, qq), " +
        "j AS (SELECT r.qname, r.den, r.rem, " +
        "MAX(CASE WHEN cum.lo_rank <= r.klo AND r.klo <= cum.hi_rank THEN v END) AS vlo, " +
        "MAX(CASE WHEN r.rem > 0 AND cum.lo_rank <= r.klo+1 AND r.klo+1 <= cum.hi_rank THEN v END) AS vhi " +
        "FROM r, cum GROUP BY 1, 2, 3), " +
        "vals AS (SELECT qname, CAST(vlo*(den-rem) + COALESCE(vhi,vlo)*rem AS DOUBLE) / CAST(den AS DOUBLE) AS qval FROM j) " +
        "SELECT MAX(CASE WHEN qname='p25' THEN qval END) AS p25, " +
        "MAX(CASE WHEN qname='p50' THEN qval END) AS p50, " +
        "MAX(CASE WHEN qname='p75' THEN qval END) AS p75, " +
        "MAX(CASE WHEN qname='p90' THEN qval END) AS p90, " +
        "(SELECT lo FROM nn) AS lo, (SELECT hi FROM nn) AS hi FROM vals"),

    // per-group replay of the exact-rational quantile bridge, cents
    // domain; one double division per (group, quantile)
    "group_quantiles" ->
      ("WITH base AS (SELECT o_orderpriority AS grp, " +
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM orders), " +
        "c AS (SELECT grp, v, COUNT(*) AS cnt FROM base GROUP BY 1, 2), " +
        "cum AS (SELECT grp, v, SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS hi_rank, " +
        "SUM(cnt) OVER (PARTITION BY grp ORDER BY v) - cnt + 1 AS lo_rank FROM c), " +
        "nn AS (SELECT grp, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi FROM base GROUP BY 1), " +
        "qq AS (SELECT * FROM (VALUES ('p25',1,4),('p50',1,2),('p75',3,4),('p90',9,10)) AS t(qname,num,den)), " +
        "r AS (SELECT grp, qname, den, (n-1)*num % den AS rem, (n-1)*num // den + 1 AS klo FROM nn, qq), " +
        "j AS (SELECT r.grp, r.qname, r.den, r.rem, " +
        "MAX(CASE WHEN cum.lo_rank <= r.klo AND r.klo <= cum.hi_rank THEN v END) AS vlo, " +
        "MAX(CASE WHEN r.rem > 0 AND cum.lo_rank <= r.klo+1 AND r.klo+1 <= cum.hi_rank THEN v END) AS vhi " +
        "FROM r JOIN cum ON r.grp = cum.grp GROUP BY 1, 2, 3, 4), " +
        "vals AS (SELECT grp, qname, CAST(vlo*(den-rem) + COALESCE(vhi,vlo)*rem AS DOUBLE) / CAST(den AS DOUBLE) AS qval FROM j) " +
        "SELECT vals.grp, nn.n, " +
        "MAX(CASE WHEN qname='p25' THEN qval END) AS p25, " +
        "MAX(CASE WHEN qname='p50' THEN qval END) AS p50, " +
        "MAX(CASE WHEN qname='p75' THEN qval END) AS p75, " +
        "MAX(CASE WHEN qname='p90' THEN qval END) AS p90, " +
        "nn.lo, nn.hi FROM vals JOIN nn ON vals.grp = nn.grp " +
        "GROUP BY 1, 2, 7, 8 ORDER BY 1"),

    "event_window_tumbling" -> sqlTumblingWindows,

    // the streaming replay must land the SAME table the batch form
    // computes — one shared oracle is the parity statement itself
    "stream_window_parity" -> sqlTumblingWindows,

    // integer-µs window enumeration: every event lands in exactly
    // size/slide = 3 epoch-aligned windows (k = 0..2), mirroring
    // Spark's window(ts, size, slide) grouping fan-out
    "event_window_sliding" ->
      ("WITH e AS (SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "w AS (SELECT event_type, value, ((us // 300000000) - k) * 300000000 AS ws " +
        "FROM e, (SELECT unnest(range(0, 3)) AS k) kk " +
        "WHERE ((us // 300000000) - k) * 300000000 + 900000000 > us) " +
        "SELECT make_timestamp(ws) AS win_start, " +
        "make_timestamp(ws + 900000000) AS win_end, event_type, " +
        "COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value " +
        "FROM w GROUP BY 1, 2, 3 ORDER BY win_start, event_type"),

    // same µs-normalizing CTE discipline as event_sessionize; strict >
    // comparisons therefore run in the µs domain on both engines
    // windowed-funnel replay: the funnel CTEs + the 7-day µs window
    // predicate on each stage join (epoch_us ≡ Spark unix_micros)
    "event_funnel_window" ->
      ("WITH o AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "u AS (SELECT DISTINCT user_id FROM o), " +
        "s1 AS (SELECT user_id, MIN(ts) AS t1 FROM o WHERE event_type = 'signup' GROUP BY user_id), " +
        "s2 AS (SELECT o.user_id, MIN(o.ts) AS t2 FROM o JOIN s1 USING (user_id) " +
        "WHERE o.event_type = 'view' AND o.ts > s1.t1 " +
        "AND epoch_us(o.ts) <= epoch_us(s1.t1) + 604800000000 GROUP BY o.user_id), " +
        "s3 AS (SELECT o.user_id, MIN(o.ts) AS t3 FROM o JOIN s2 USING (user_id) " +
        "WHERE o.event_type = 'purchase' AND o.ts > s2.t2 " +
        "AND epoch_us(o.ts) <= epoch_us(s2.t2) + 604800000000 GROUP BY o.user_id) " +
        "SELECT u.user_id, s1.t1, s2.t2, s3.t3, " +
        "CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2 " +
        "WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage " +
        "FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) " +
        "LEFT JOIN s3 USING (user_id) ORDER BY user_id"),

    "event_funnel" ->
      ("WITH o AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "u AS (SELECT DISTINCT user_id FROM o), " +
        "s1 AS (SELECT user_id, MIN(ts) AS t1 FROM o WHERE event_type = 'signup' GROUP BY user_id), " +
        "s2 AS (SELECT o.user_id, MIN(o.ts) AS t2 FROM o JOIN s1 USING (user_id) " +
        "WHERE o.event_type = 'view' AND o.ts > s1.t1 GROUP BY o.user_id), " +
        "s3 AS (SELECT o.user_id, MIN(o.ts) AS t3 FROM o JOIN s2 USING (user_id) " +
        "WHERE o.event_type = 'purchase' AND o.ts > s2.t2 GROUP BY o.user_id) " +
        "SELECT u.user_id, s1.t1, s2.t2, s3.t3, " +
        "CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2 " +
        "WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage " +
        "FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) " +
        "LEFT JOIN s3 USING (user_id) ORDER BY user_id"),

    // week starts are UTC Monday midnights (both engines' date_trunc),
    // so offsets are exact integer multiples of 604800 s
    "event_retention" ->
      ("WITH o AS (SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events), " +
        "f AS (SELECT user_id, MIN(wk) AS cohort FROM o GROUP BY user_id), " +
        "a AS (SELECT DISTINCT user_id, wk FROM o) " +
        "SELECT cohort, CAST((epoch(wk) - epoch(cohort)) // 604800 AS BIGINT) AS week_offset, " +
        "COUNT(*) AS n_users FROM a JOIN f USING (user_id) " +
        "GROUP BY cohort, week_offset ORDER BY cohort, week_offset"),

    "event_sessionize" -> sqlSessionize,

    // the stateful-streaming replay must land the SAME session table
    // the batch session_window computes — shared oracle IS the parity
    "stream_sessionize_parity" -> sqlSessionize,
  )
}
