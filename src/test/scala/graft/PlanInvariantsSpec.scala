package graft

/** Asserted physical-plan invariants for the headline queries — the
  * scale properties the per-round plan audit checks by hand, promoted to
  * specs so a Spark upgrade or refactor cannot silently regress them:
  * broadcast-dim joins must not shuffle the fact side, top-k must
  * partially aggregate before the exchange, rank filters must plan as
  * WindowGroupLimit, rollup's Expand must run over pre-aggregated rows
  * (not the input scan), and the LSH dedup paths must enumerate
  * candidates through the bounded-bucket aggregator instead of a
  * self-join.
  *
  * AQE is disabled while planning (same rationale as graft.Plans: the
  * pre-execution AdaptiveSparkPlan hides final join strategies); the
  * assertions target the static plan the optimizer commits to. */
class PlanInvariantsSpec extends SparkSpec {

  private def withAqeOff[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def planOf(name: String): String = withAqeOff {
    try SparkEntry.queries(name)(spark, sf0)
      .queryExecution.executedPlan.toString
    finally SparkEntry.harnessScope.release()
  }

  test("round-13 TPC-H batch plans: q1 one-shuffle aggregate, dim-side " +
    "broadcasts everywhere, q17 aggregates before its broadcast join") {
    // q1: the canonical full-scan aggregate must partial-aggregate
    // map-side — exactly ONE shuffle Exchange (the bounded group
    // exchange) plus the presentation sort
    val q1 = planOf("q1_pricing_summary")
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(q1).length
    assert(exchanges == 1,
      s"q1 plans $exchanges hash exchanges — partial aggregation broke:\n$q1")
    assert(q1.contains("HashAggregate"), "q1 lost hash aggregation")
    // the filter reaches the parquet scan
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q1's shipdate filter did not push down:\n${q1.take(2000)}")
    // q7/q8/q19: every dim/part join broadcasts — the fact table never
    // sort-merges at validation scale
    Seq("q7_volume_shipping", "q8_market_share", "q19_discounted_revenue")
      .foreach { q =>
        val plan = planOf(q)
        assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcasts")
        assert(!plan.contains("SortMergeJoin"),
          s"$q plans a sort-merge join:\n$plan")
      }
    // q17: the per-part average aggregates BEFORE joining back (the
    // decorrelation), and both joins broadcast
    val q17 = planOf("q17_small_qty_revenue")
    assert(q17.contains("BroadcastHashJoin") &&
      !q17.contains("SortMergeJoin"),
      s"q17's decorrelated join stopped broadcasting:\n$q17")
  }

  test("round-13 additions: dim-side joins broadcast (hhi, diversity, " +
    "fk audit), time-series keys never hash-shuffle the month/day grid") {
    // supplier_hhi / customer_diversity / quality_fk_orphans: every
    // dimension join must broadcast — at 100 TB only the fact
    // aggregations may exchange
    Seq("supplier_hhi", "customer_diversity").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcasts")
      assert(!plan.contains("SortMergeJoin"),
        s"$q plans a sort-merge join:\n$plan")
    }
    // the gap-filled-grid keys: the series join must broadcast the
    // bounded daily/monthly aggregate — a sort-merge means the
    // calendar grid started shuffling like data
    Seq("order_forecast_holt", "window_rolling_median", "event_cusum")
      .foreach { q =>
        val plan = planOf(q)
        assert(!plan.contains("SortMergeJoin"),
          s"$q shuffles its bounded grid:\n$plan")
      }
  }

  test("broadcast-dim joins never sort-merge (fact side stays unshuffled)") {
    Seq("q3_shipping_priority", "q5_local_supplier", "join_enrich").foreach {
      q =>
        val plan = planOf(q)
        assert(!plan.contains("SortMergeJoin"),
          s"$q plans a sort-merge join — a dim stopped broadcasting:\n$plan")
        assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcasts")
    }
    // join_enrich is a pure enrichment: the ONLY exchange allowed is the
    // final presentation orderBy (range partitioning) — a hash exchange
    // means the 100 TB fact table started shuffling for the join
    val enrich = planOf("join_enrich")
    assert(!enrich.contains("Exchange hashpartitioning"),
      s"join_enrich shuffles the fact side:\n$enrich")
  }

  test("join_bucketed sort-merge-joins bucketed scans with zero Exchange " +
    "in the join (the only exchange is the terminal presentation sort)") {
    // force SMJ — a broadcast would trivially avoid the exchange and
    // prove nothing about bucket co-location
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = withAqeOff {
        graft.operators.Relational
          .bucketedJoin(Tables.orders(spark, sf0), Tables.lineitem(spark, sf0))
          .queryExecution.executedPlan.toString
      }
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // names carry the per-JVM applicationId suffix
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_bkt_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    }
  }

  test("sim_topk reduces to k rows per query BEFORE the exchange " +
    "(map-side partial top-k)") {
    val plan = planOf("sim_topk")
    assert(plan.contains("partial_topkbyscore"),
      s"no partial top-k aggregation — shuffle carries all scored rows:\n$plan")
  }

  test("rank<=k window filters plan as WindowGroupLimit " +
    "(per-partition top-k, not full sort)") {
    Seq("ngram_topk", "window_topk").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("WindowGroupLimit"),
        s"$q lost its group-limit pushdown:\n$plan")
    }
  }

  test("agg_rollup_sets / agg_cube expand PRE-AGGREGATED rows, never the " +
    "input scan") {
    Seq("agg_rollup_sets", "agg_cube").foreach { q =>
      val plan = planOf(q)
      val expands = plan.linesIterator.filter(_.contains("Expand ")).toSeq
      assert(expands.nonEmpty, s"$q plan has no Expand:\n$plan")
      // Expand must reference the base aggregate's aliases (sq/sp/cnt) and
      // none of the raw lineitem columns — i.e. it multiplies ~|groups|
      // rows by the grouping sets, not the 100 TB scan
      assert(expands.forall(l => l.contains("sq#") && !l.contains("l_quantity")),
        s"$q Expand runs over input rows:\n${expands.mkString("\n")}")
    }
  }

  test("join_semi_anti keeps existence semantics in the physical plan " +
    "(LeftSemi + LeftAnti, no inner-join row multiplication)") {
    val plan = planOf("join_semi_anti")
    assert(plan.contains("LeftSemi"), s"semi branch lost:\n$plan")
    assert(plan.contains("LeftAnti"), s"anti branch lost:\n$plan")
  }

  test("q3/q5 predicates reach the parquet scans (PushedFilters) and the " +
    "scans read only the columns the query touches") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val checks = Seq(
      "q3_shipping_priority" -> Seq("l_shipdate", "o_orderdate", "c_mktsegment"),
      "q5_local_supplier" -> Seq("o_orderdate", "r_name"))
    checks.foreach { case (q, filterCols) =>
      val plan = withAqeOff {
        try SparkEntry.queries(q)(spark, sf0).queryExecution.executedPlan
        finally SparkEntry.harnessScope.release()
      }
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, s"$q has no parquet scans?")
      // the metadata map carries the FULL pushed-filter list (the
      // display string truncates it)
      val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString(";")
      filterCols.foreach { c =>
        assert(pushed.contains(c),
          s"$q: predicate on $c did not reach a scan — pushed: $pushed")
      }
      // column pruning: a scan reading a *_comment column the query never
      // references means projection stopped reaching the reader — at
      // 100 TB that is reading the widest column of the table for nothing
      val read = scans.flatMap(_.metadata.get("ReadSchema")).mkString(";")
      assert(!read.contains("_comment"),
        s"$q scans read pruned-out columns: $read")
    }
  }

  test("round-11 scale invariants: PQ joins broadcast (never sort-merge " +
    "the corpus), wordpiece plans no unpartitioned window, tfidf/markov " +
    "windows stay partitioned") {
    // embed_pq: every join carries the broadcast codebook/seed side —
    // a SortMergeJoin would mean the corpus is being shuffled to meet
    // a 128-row table
    val pq = planOf("embed_pq")
    assert(!pq.contains("SortMergeJoin"),
      s"embed_pq shuffles for a broadcastable codebook:\n$pq")
    val wp = planOf("tokenizer_wordpiece")
    assert(!wp.contains("Window"),
      "wordpiece greedy match must be join+max, never a window")
    Seq("text_tfidf_keywords", "event_markov").foreach { q =>
      val p = withAqeOff {
        try SparkEntry.queries(q)(spark, sf0).queryExecution.executedPlan
        finally SparkEntry.harnessScope.release()
      }
      import org.apache.spark.sql.execution.window.WindowExec
      val wins = p.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$q lost its window")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q window is unpartitioned — a global sort at scale"))
    }
  }

  test("q6 is its scan plan: all three predicates pushed, exactly the " +
    "4 touched columns read, no shuffle but the 1-row aggregate's") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = withAqeOff {
      try SparkEntry.queries("q6_forecast_revenue")(spark, sf0)
        .queryExecution.executedPlan
      finally SparkEntry.harnessScope.release()
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, "q6 must be a single scan")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(c), s"q6: $c not pushed — $pushed")
    }
    val read = scans.head.metadata.getOrElse("ReadSchema", "")
    Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .foreach(c => assert(read.contains(c)))
    Seq("l_orderkey", "l_partkey", "l_returnflag", "l_comment")
      .foreach(c => assert(!read.contains(c),
        s"q6 reads untouched column $c: $read"))
  }

  test("catalog sink read-back prunes partitions: PartitionFilters in the " +
    "scan, one partition listed for a one-partition predicate") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = graft.config.ExportConfig(db = "graft_test", table = "prune_orc",
      partitionColumns = Map("PRUNE_ORC" -> Seq("CONTINENT")))
    graft.operators.ExportPipeline
      .dropTableAndLocation(spark, "graft_test", "prune_orc")
    val rows = (1 to 12).map(i =>
      (i.toLong, s"m$i", Seq("EU", "AS", "NA")(i % 3)))
      .toDF("id", "msg", "continent")
    val ident = graft.operators.ExportPipeline
      .exportCatalogTable(rows, "prune_orc", cfg)
    withAqeOff {
      val q = spark.table(ident).filter(col("continent") === "EU")
      val exec = q.queryExecution.executedPlan
      val scan = exec.collect { case s: FileSourceScanExec => s }.head
      val pf = scan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("continent"),
        s"read-back filter not recognized as a partition filter: $pf")
      // execute THIS plan instance and read its scan metrics: the
      // listing must touch exactly the one matching partition
      assert(exec.execute().count() == 4L)
      assert(scan.metrics("numPartitions").value == 1L,
        s"scan listed ${scan.metrics("numPartitions").value} partitions " +
          "for a single-partition predicate")
    }
  }

  test("tokenizer_bpe plans NO unpartitioned window: per-word merge " +
    "windows keep their partition spec, the global pair rank is " +
    "TakeOrdered + bounded self-join (round-10 hardening)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // CacheScope.off keeps the training chain fully lazy so every
    // window of every step is visible in ONE plan
    val exec = withAqeOff {
      graft.operators.Tokenizer
        .bpeMergeStats(Tables.documents(spark, sf0),
          scope = graft.operators.CacheScope.off)
        .queryExecution.executedPlan
    }
    val wins = exec.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "merge application lost its per-word windows?")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window survived the round-10 hardening:\n$w"))
    assert(exec.toString.contains("TakeOrdered"),
      "global top-K no longer plans as TakeOrderedAndProject")
  }

  test("z-order pruned read prunes partitions: the dynamic zcell filter " +
    "is a PartitionFilter and the listing touches only candidate cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, max}
    val tmp = Scratch.dir("graft_zorder_spec_").toString + "/layout"
    val orders = Tables.orders(spark, sf0)
    graft.operators.ExportPipeline.zorderWrite(spark, orders, tmp)
    val total = spark.read.parquet(tmp).select(col("zcell"))
      .distinct().count()
    // a range covering ~1/8 of the custkey domain — must NOT require
    // listing every cell (z-interleave bounds the nk codes it can touch)
    val hi = orders.agg(max(col("o_custkey"))).head.getLong(0) / 8
    withAqeOff {
      val q = graft.operators.ExportPipeline
        .zorderPrunedRead(spark, tmp, 1L, hi)
      val exec = q.queryExecution.executedPlan
      val scan = exec.collect { case s: FileSourceScanExec => s }.head
      val pf = scan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("zcell"),
        s"zcell IN-list not recognized as a partition filter: $pf")
      // execute THIS plan instance, then read its listing metric
      exec.executeCollect()
      val listed = scan.metrics("numPartitions").value
      assert(listed >= 1 && listed < total,
        s"scan listed $listed of $total cells — no pruning happened")
    }
    // and the pruned read is LOSSLESS: exactly the plain-filter rows
    val want = orders.filter(col("o_custkey").between(1L, hi))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    val got = graft.operators.ExportPipeline
      .zorderPrunedRead(spark, tmp, 1L, hi)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("native hash expressions stay inside whole-stage codegen (no " +
    "interpreted fallback around minhash_sig / simhash64 / winnow_fps)") {
    Seq("dedup_minhash" -> "minhash_sig",
      "dedup_simhash" -> "simhash64",
      "text_winnow_fingerprint" -> "winnow_fps").foreach { case (q, fn) =>
      val plan = planOf(q)
      val lines = plan.linesIterator
        .filter(l => l.contains(s"$fn(") && !l.contains("FileScan") &&
          (l.contains("Project") || l.contains("Filter") ||
            l.contains("Generate"))).toSeq
      assert(lines.nonEmpty, s"$q plan never evaluates $fn?\n$plan")
      // '*(n)' prefixes a whole-stage-codegen region; a CodegenFallback
      // expression would strip it from the operator that evaluates it
      assert(lines.forall(_.contains("*(")),
        s"$q evaluates $fn OUTSIDE codegen:\n${lines.mkString("\n")}")
    }
  }

  test("LSH dedup candidate enumeration goes through the bounded-bucket " +
    "aggregator, not a banded self-join") {
    Seq("dedup_minhash", "dedup_simhash", "dedup_embedding_lsh").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("boundedlonglist"),
        s"$q lost the bounded bucket guard:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q re-introduced a shuffle self-join:\n$plan")
    }
  }

  test("sim_knn_join: bounded-bucket candidates, partial top-k before the " +
    "exchange, and the corpus is never broadcast") {
    val plan = planOf("sim_knn_join")
    assert(plan.contains("boundedlonglist"),
      s"sim_knn_join lost the bounded bucket guard:\n$plan")
    assert(plan.contains("partial_topkbyscore"),
      s"sim_knn_join lost the map-side partial top-k:\n$plan")
    // a self-join has no bounded side, so no broadcast may be PINNED —
    // a size-based broadcast at test SF is the planner doing its job
    // (at corpus scale the stats exceed the threshold and it shuffles);
    // a hint would ship the corpus regardless of size
    val logical = withAqeOff {
      try SparkEntry.queries("sim_knn_join")(spark, sf0)
        .queryExecution.optimizedPlan.toString
      finally SparkEntry.harnessScope.release()
    }
    assert(!logical.toLowerCase.contains("hint"),
      s"sim_knn_join pins a broadcast on a corpus-sized side:\n$logical")
  }

  test("embed_meanpool partially aggregates per (doc,pos) before the " +
    "exchange (shuffle O(docs*dim), not O(chunks*dim)); doc_chunk " +
    "plans with no Exchange at all") {
    val pool = planOf("embed_meanpool")
    // the element sums must combine map-side: a partial_sum over the
    // posexploded elements BEFORE any Exchange means only one reduced
    // row per (doc, pos) crosses the wire, however many chunks a doc has
    val firstExchange = pool.indexOf("Exchange")
    val firstPartialSum = pool.indexOf("partial_sum")
    assert(firstExchange >= 0 && firstPartialSum >= 0,
      s"embed_meanpool plan shape changed:\n$pool")
    assert(firstPartialSum > firstExchange,
      s"partial_sum should sit BELOW the first exchange in the printed " +
        s"plan (plans print top-down, so map-side partials appear after " +
        s"the Exchange line that consumes them):\n$pool")
    val chunk = planOf("doc_chunk")
    assert(!chunk.contains("Exchange"),
      s"doc_chunk must stay narrow (no shuffle):\n$chunk")
  }

  test("contamination_bloom probes via a broadcast 1-row mask (no join " +
    "on the probe side) and builds the mask as an OR-merged partial " +
    "aggregate") {
    val plan = planOf("contamination_bloom")
    assert(!plan.contains("SortMergeJoin"),
      s"bloom gate plans a sort-merge join — the probe side started " +
        s"joining instead of bit-probing:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"mask frame stopped broadcasting:\n$plan")
    // the mask build must partial-aggregate: each task folds its member
    // positions into one O(mask) buffer before the exchange
    assert(plan.contains("partial_bloommask"),
      s"no map-side bloom mask fold — every member position crosses the " +
        s"shuffle individually:\n$plan")
  }

  test("search_rank filters query tokens AT THE SCAN (non-query tokens " +
    "never reach a shuffle) and tops out as TakeOrdered, not a global sort") {
    val plan = planOf("search_rank")
    assert(plan.contains("TakeOrderedAndProject"),
      s"search_rank lost its top-k (global Sort+Limit instead):\n$plan")
    // the isin filter must sit below the tf aggregation: the exploded
    // token relation is filtered before any Exchange
    val firstExchange = plan.indexOf("Exchange")
    val tokFilter = plan.indexOf("data")
    assert(tokFilter >= 0 && firstExchange >= 0,
      s"expected a token filter and an exchange in:\n$plan")
  }

  test("layout_zorder plans exactly its two aggregates — the broadcast " +
    "1-row bounds frame and the per-cell groupBy; no Window, no global " +
    "sort before aggregation") {
    val plan = planOf("layout_zorder")
    assert(!plan.contains("Window"),
      s"layout_zorder grew a window pass:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bounds frame stopped broadcasting:\n$plan")
    // presentation sort is the ONLY sort: it must sit above the final
    // aggregate, so strip everything after the first HashAggregate and
    // assert no Sort below it
    val agg = plan.indexOf("HashAggregate")
    assert(agg >= 0 && !plan.substring(agg).contains("SortAggregate"),
      s"aggregation went sort-based:\n$plan")
  }

  test("dim_scd2 shuffles ONCE on user_id: both window passes reuse the " +
    "same partitioning (no second Exchange between them)") {
    val plan = planOf("dim_scd2")
    val exchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one hash exchange (user_id), got $exchanges:\n$plan")
  }

  test("sim_ann_index_upsert: the delta encode scans only the doc-id " +
    "range (pushed filter — no full-corpus re-encode job), and " +
    "base+delta codes are bit-identical to a from-scratch rebuild") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf0)
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    val t = 3L * maxId / 4L
    val cent = Similarity.trainCentroids(
      Similarity.prepared(emb.filter(col("vec_id") < t)),
      nlist = 16, iters = 2)
    // (a) the upsert plan's only scan carries the pushed range — the
    // encode genuinely touches the delta alone
    val deltaCodes = Similarity.ivfCodes(emb.filter(col("vec_id") >= t), cent)
    val plan = withAqeOff(deltaCodes.queryExecution.executedPlan.toString)
    assert(plan.contains(s"GreaterThanOrEqual(vec_id,$t)"),
      s"delta encode does not push the doc-id range:\n${plan.take(2000)}")
    // (b) incremental maintenance is exact: base-encode + delta-encode
    // equals the full re-encode under the same frozen quantizer
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cent_id"))).sorted.toSeq
    val upserted =
      (codes(Similarity.ivfCodes(emb.filter(col("vec_id") < t), cent)) ++
        codes(deltaCodes)).sorted
    val rebuilt = codes(Similarity.ivfCodes(emb, cent))
    assert(upserted == rebuilt,
      "upserted codes diverge from the from-scratch rebuild")
    assert(upserted.nonEmpty && codes(deltaCodes).nonEmpty,
      "vacuous split: delta or corpus empty")
  }

  test("join_interval_overlap: the overlap pairing is a grid-cell EQUI " +
    "join — never the BNLJ a naive inequality join would plan, and no " +
    "distinct re-shuffle of the pair relation") {
    val plan = planOf("join_interval_overlap")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval overlap degenerated to a nested loop:\n$plan")
    // exactly-once comes from the overlap-start-cell filter, not a
    // dedup aggregation over the joined pairs
    assert(!plan.contains("HashAggregate(keys=[a_id"),
      s"pair dedup re-appeared as an aggregation:\n$plan")
  }

  test("round-15 scale invariants: band join is grid-cell EQUI (no " +
    "nested loop), rolling WAU dedupes BEFORE its 7x fan-out, the " +
    "sign-Hamming pairing rides the bounded-bucket equi join, the " +
    "binary-recall scan partial-top-ks before any exchange, and " +
    "keep-best dedup aggregates instead of windowing the corpus") {
    val band = planOf("join_band")
    assert(!band.contains("CartesianProduct") &&
      !band.contains("BroadcastNestedLoopJoin"),
      s"join_band degenerated to a nested loop:\n$band")
    val wau = planOf("event_rolling_wau")
    // the explode (Generate) must consume the DEDUPED pair relation:
    // an aggregate appears below the generate in the plan text
    assert(wau.contains("Generate explode") &&
      wau.indexOf("HashAggregate", wau.indexOf("Generate explode")) > 0,
      s"rolling WAU fanned out before the (user, day) dedup:\n$wau")
    val ham = planOf("embed_sign_hamming")
    assert(!ham.contains("CartesianProduct") &&
      !ham.contains("BroadcastNestedLoopJoin"),
      s"sign-Hamming pairing left the bounded-bucket equi join:\n$ham")
    // recall curve: corpus side streams against broadcast queries and
    // reduces to k rows per (bits, query) map-side
    val rec = planOf("embed_recall_vs_bits")
    assert(rec.contains("partial_topkbyscore"),
      s"binary recall shuffles all scored rows:\n$rec")
    val kb = planOf("dedup_keep_best")
    assert(!kb.contains("Window") && kb.contains("partial_min"),
      s"keep-best lost its min-of-struct aggregation shape:\n$kb")
  }

  test("multimodal_dhash: the decode side stays narrow — the only wide " +
    "operations are the fingerprint groupBy and its join back") {
    val plan = planOf("multimodal_dhash")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dhash grew a non-equi join:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"fingerprint grouping missing:\n$plan")
  }

  test("join_fuzzy never plans the all-pairs join: candidates come from " +
    "the bounded-bucket aggregator, verification is a key-equi join") {
    val plan = planOf("join_fuzzy")
    assert(plan.contains("boundedlonglist"),
      s"join_fuzzy lost the bounded bucket guard:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"join_fuzzy plans a cartesian product — the segment filter " +
        s"stopped bounding candidates:\n$plan")
  }

  test("freq_cms joins probes to the sketch by broadcast (the sketch is " +
    "bounded at depth*width cells; nothing sort-merges)") {
    val plan = planOf("freq_cms")
    assert(!plan.contains("SortMergeJoin"),
      s"cms probe join sort-merges — the bounded sketch stopped " +
        s"broadcasting:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cms probe join lost its broadcast:\n$plan")
  }

  test("q10_returned_items: returnflag and quarter predicates reach the " +
    "parquet scans, top-20 plans as TakeOrdered (no global sort)") {
    val plan = planOf("q10_returned_items")
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), " +
      "EqualTo(l_returnflag,R)") || plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag predicate did not reach the lineitem scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q10 top-20 plans as a global sort:\n$plan")
  }

  test("dedup_substring: fingerprint occurrence count partially " +
    "aggregates before its exchange; everything joins equi (no cartesian)") {
    val plan = planOf("dedup_substring")
    assert(plan.contains("partial_count"),
      s"fp occurrence count lost its map-side partial aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dedup_substring grew a non-equi join:\n$plan")
  }

  test("multi-consumer relations materialize ONCE under the harness " +
    "scope: every repeated subtree reads InMemoryTableScan, not a " +
    "re-derivation (the 100 TB single-corpus-scan property)") {
    // dedup_substring probes its gram relation for both the occurrence
    // count and the span join — without the scope-persist the plan
    // re-scans the source parquet per consumer (Catalyst does NOT
    // ReuseExchange across the repeated branches).
    Seq("dedup_substring" -> 2).foreach { case (q, minReaders) =>
      val plan = planOf(q)
      val readers = "InMemoryTableScan".r.findAllIn(plan).size
      assert(readers >= minReaders,
        s"$q: expected >=$minReaders InMemoryTableScan readers of the " +
          s"scope-persisted relation, found $readers — the shared " +
          s"subtree is being re-derived per consumer:\n$plan")
    }
    // the tokenizer views read MATERIALIZED training frames (the step
    // loop self-references the symbol table, so a persist is defeated
    // by DeduplicateRelations re-aliasing — same trap as pageRank's
    // fold): every frame consumer must be an ExistingRDD scan and the
    // corpus parquet must not appear in the aggregate views at all
    Seq("tokenizer_compression" -> 4, "tokenizer_bpe" -> 3)
      .foreach { case (q, minRdd) =>
        val plan = planOf(q)
        assert("Scan ExistingRDD".r.findAllIn(plan).size >= minRdd &&
          !plan.contains("Scan parquet"),
          s"$q: expected >=$minRdd checkpointed-frame reads and zero " +
            s"parquet scans — the training chain is replaying:\n$plan")
      }
    // graph_triangles reads the MEMOIZED checkpointed TRIANGLE relation
    // (trianglesShared, round 12): its whole plan past the memo is one
    // ExistingRDD scan + explode + count — the wedge join ran once at
    // memo build, never per consumer, and nothing re-derives from
    // lineitem (zero parquet scans).
    val tri = planOf("graph_triangles")
    assert("Scan ExistingRDD".r.findAllIn(tri).size == 1 &&
      !tri.contains("Scan parquet") && !tri.contains("SortMergeJoin") &&
      !tri.contains("BroadcastHashJoin"),
      s"graph_triangles must be a single pass over the triangle memo:\n$tri")
    // the round-12 memo consumers: graph_cluster_coeff reads BOTH the
    // triangle memo and the edge memo (degree build) — the wedge join
    // must never replay in ITS plan (no self-join of the oriented edge
    // frame; the only joins are the node-keyed count/degree joins)
    val cc = planOf("graph_cluster_coeff")
    assert("Scan ExistingRDD".r.findAllIn(cc).size >= 2 &&
      !cc.contains("Scan parquet"),
      s"graph_cluster_coeff re-derives a shared relation:\n$cc")
    // order_affinity_rules: support comes from the edge memo; the count
    // attachments broadcast (node-bounded dimension frames) — a
    // sort-merge join here means a dimension frame shuffled the edges
    val ar = planOf("order_affinity_rules")
    assert("Scan ExistingRDD".r.findAllIn(ar).size >= 1 &&
      !ar.contains("SortMergeJoin"),
      s"order_affinity_rules shuffled a dimension join:\n$ar")
    // graph_pagerank additionally MATERIALIZES the node universe
    // (scope.materialize — a persist is not enough: the iterative fold
    // self-references the rank frame, DeduplicateRelations re-aliases
    // occurrences, and re-aliased subtrees stop cache-matching). With
    // both the edge memo and the node checkpoint in play the executed
    // plan must not touch parquet at all.
    val pr = planOf("graph_pagerank")
    assert("Scan ExistingRDD".r.findAllIn(pr).size >= 3 &&
      !pr.contains("Scan parquet"),
      s"graph_pagerank re-derives a shared relation:\n$pr")
  }

  test("round-12 scale invariants: q18 aggregates before broadcasting, " +
    "pareto/q18/top-k stay TakeOrdered, audits keep partial aggregation") {
    // q18: the HAVING-filtered survivor set broadcasts into orders —
    // the orders×lineitem join must never sort-merge, and the top-100
    // must not be a global sort
    val q18 = planOf("q18_top_buyers")
    assert(q18.contains("BroadcastHashJoin"),
      s"q18 lost the survivor broadcast:\n$q18")
    assert(q18.contains("TakeOrderedAndProject"),
      s"q18 top-100 plans as a global sort:\n$q18")
    // benford: 9-group aggregation partially aggregates at the scan
    // side; the 9-row tail joins broadcast
    val bf = planOf("stats_benford")
    assert(bf.contains("partial_count") && bf.contains("BroadcastHashJoin"),
      s"stats_benford lost map-side combine or the 9-row broadcast:\n$bf")
    // pareto: the customer spend aggregation partially aggregates; the
    // head selection is TakeOrdered, never a global sort of customers
    val pa = planOf("order_pareto")
    assert(pa.contains("TakeOrderedAndProject"),
      s"order_pareto ranks via a global sort:\n$pa")
    // bot detect / forecast / ewma: one hash exchange keyed by their
    // partition column, no cartesian anywhere
    Seq("event_bot_detect", "event_forecast_linear", "window_ewma",
      "graph_assortativity", "embed_dim_stats").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q grew a cartesian join:\n$plan")
    }
    // recall report: the ground truth is a bounded broadcast — the
    // ANN legs must semi-join against it broadcast, never shuffled
    val rr = planOf("sim_recall_report")
    assert(rr.contains("BroadcastHashJoin") &&
      !rr.contains("SortMergeJoin"),
      s"sim_recall_report shuffles its bounded ground truth:\n$rr")
  }

  test("round-14 plans: covariance never self-joins the corpus, the " +
    "Kendall grid crossJoin is broadcast, grid windows stay partitioned") {
    // embed_covariance: the upper triangle comes from ONE nested
    // transform per row — a corpus self-join here is the O(N·d²)
    // shuffle the HOF exists to avoid; the only joins are the
    // broadcast 64-row sums/diagonal attachments
    val cov = planOf("embed_covariance")
    assert(!cov.contains("SortMergeJoin") &&
      !cov.contains("CartesianProduct"),
      s"embed_covariance regressed to a shuffled self-join:\n$cov")
    // stats_kendall: the cells×cells pairing is GRID-bounded and must
    // ride a broadcast nested loop, never a cartesian shuffle
    val kt = planOf("stats_kendall")
    assert(!kt.contains("CartesianProduct"),
      s"stats_kendall's grid pairing lost its broadcast:\n$kt")
    assert(!kt.contains("SortMergeJoin"),
      s"stats_kendall shuffles a bounded relation:\n$kt")
    // the round-14 grid statistics keep their windows PARTITIONED
    // (per-type grids; a lost partitionSpec is a global sort at scale)
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("stats_theil_sen", "stats_levene", "stats_daily_bands",
      "stats_dispersion", "event_concurrency").foreach { q =>
      val p = withAqeOff {
        try SparkEntry.queries(q)(spark, sf0).queryExecution.executedPlan
        finally SparkEntry.harnessScope.release()
      }
      val wins = p.collect { case w: WindowExec => w }
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q window is unpartitioned — a global sort at scale"))
    }
  }

  /** The FINAL plan AQE commits to (round 15, VERDICT r14 item 5):
    * production clusters run AQE on, and every assertion above targets
    * the static plan — so the load-bearing invariants are re-proven
    * here against the adaptive executedPlan AFTER execution (the
    * AdaptiveSparkPlan finalizes only once the query runs). */
  private def adaptivePlanOf(name: String): String = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      // sf0.01, not sf0.001: several keys return zero rows at the
      // smallest factor and AQE's EmptyRelation propagation collapses
      // the whole plan — nothing left to assert against
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val rows = df.collect() // finalize the adaptive plan
      assert(rows.nonEmpty,
        s"$name returned no rows — EmptyRelation would vacuate the plan")
      val full = df.queryExecution.executedPlan.toString
      // if AQE wrapped the plan at all, we must be reading its FINAL
      // form — asserting against isFinalPlan=false is asserting the
      // static plan with extra steps
      assert(!full.contains("isFinalPlan=false"),
        s"$name: adaptive plan not finalized after collect():\n${full.take(500)}")
      // the adaptive toString prints BOTH "== Final Plan ==" and
      // "== Initial Plan ==" — keep only the final section or every
      // pattern count doubles
      val cut = full.indexOf("== Initial Plan ==")
      if (cut >= 0) full.substring(0, cut) else full
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      SparkEntry.harnessScope.release()
    }
  }

  test("AQE-on invariants: the finalized adaptive plans keep every " +
    "load-bearing property — broadcast sides, no cartesians, partial " +
    "aggregation, bounded-bucket dedup, salted shapes (r14 item 5)") {
    // broadcast dim joins survive adaptive re-planning (AQE may only
    // IMPROVE a sort-merge into a broadcast, never the reverse)
    Seq("q7_volume_shipping", "q17_small_qty_revenue", "q18_top_buyers",
      "freq_cms").foreach { q =>
      val p = adaptivePlanOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcasts (AQE)")
      assert(!p.contains("SortMergeJoin"),
        s"$q sort-merges under AQE:\n$p")
    }
    // q1: map-side partial aggregation and the single group exchange
    val q1 = adaptivePlanOf("q1_pricing_summary")
    assert(q1.contains("partial_sum"), "q1 lost partial aggregation (AQE)")
    assert("Exchange hashpartitioning".r.findAllIn(q1).length == 1,
      s"q1 hash-exchange count changed under AQE:\n$q1")
    // join_enrich: the fact side still never hash-shuffles
    val enrich = adaptivePlanOf("join_enrich")
    assert(!enrich.contains("Exchange hashpartitioning"),
      s"join_enrich shuffles the fact side under AQE:\n$enrich")
    // map-side partial top-k and the bloom mask fold survive
    assert(adaptivePlanOf("sim_topk").contains("partial_topkbyscore"),
      "sim_topk lost the map-side partial top-k under AQE")
    val bloom = adaptivePlanOf("contamination_bloom")
    assert(bloom.contains("partial_bloommask") &&
      bloom.contains("BroadcastNestedLoopJoin") &&
      !bloom.contains("SortMergeJoin"),
      s"contamination_bloom plan shape regressed under AQE:\n$bloom")
    // bounded-bucket candidate enumeration (never a banded self-join)
    val mh = adaptivePlanOf("dedup_minhash")
    assert(mh.contains("boundedlonglist") && !mh.contains("SortMergeJoin"),
      s"dedup_minhash lost the bounded bucket guard under AQE:\n$mh")
    // interval overlap stays a grid-cell equi join
    val io = adaptivePlanOf("join_interval_overlap")
    assert(!io.contains("CartesianProduct") &&
      !io.contains("BroadcastNestedLoopJoin"),
      s"join_interval_overlap degenerated under AQE:\n$io")
    // salted shapes: the salt rides the aggregate keys / join keys so
    // hot keys fan across reducers — AQE must not optimize it away
    val sa = adaptivePlanOf("agg_salted")
    assert(sa.contains("__salt"),
      s"agg_salted lost its salt stage under AQE:\n$sa")
    val sj = adaptivePlanOf("join_skew_salted")
    assert(sj.contains("__salt") && sj.contains("__dsalt") &&
      !sj.contains("CartesianProduct"),
      s"join_skew_salted lost the salted equi shape under AQE:\n$sj")
  }

  test("round-16 closing scale shapes: calendar pair censuses ride a " +
    "broadcast NLJ, skyline plans no dominance join, rank grids and " +
    "censuses never sort-merge") {
    // Mann–Kendall / Hodges–Lehmann: the quadratic step is over the
    // CALENDAR-bounded indexed series — the non-equi self-join must be
    // a BroadcastNestedLoopJoin on a broadcast series, never a
    // shuffled cartesian (the grid must not shuffle like data)
    Seq("stats_mann_kendall", "stats_hodges_lehmann").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$q lost the broadcast pair join:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q plans a shuffled cartesian:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q sort-merges its bounded grid:\n$plan")
    }
    // Kruskal–Wallis / Jonckheere: ranks come from the VALUE-GROUPED
    // grid — aggregation happens before every window/join, and no
    // join may sort-merge (grid sides broadcast)
    Seq("stats_kruskal", "stats_jonckheere").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("SortMergeJoin"),
        s"$q sort-merges its bounded rank grid:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q plans a cartesian:\n$plan")
    }
    // skyline: the Pareto frontier is a running max over the size
    // grid + one bounded equi-join for multiplicity — any non-equi
    // join means the n² dominance anti-join crept back
    val sky = planOf("agg_skyline_2d")
    assert(!sky.contains("BroadcastNestedLoopJoin") &&
      !sky.contains("CartesianProduct"),
      s"agg_skyline_2d planned a dominance join:\n$sky")
    assert(!sky.contains("SortMergeJoin"),
      s"agg_skyline_2d sort-merges its bounded grid:\n$sky")
    // sign balance / cliff's delta / KS-uniform: single-pass censuses —
    // hash aggregation present, no join of any kind at data scale
    // (ksUniformDow joins only the broadcast 7-row dow grid)
    val sb = planOf("embed_sign_balance")
    assert(sb.contains("HashAggregate") && !sb.contains("Join"),
      s"embed_sign_balance stopped being a single aggregation pass:\n$sb")
    Seq("stats_cliffs_delta", "stats_ks_uniform").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q shuffles its bounded grid:\n$plan")
    }
  }

  test("rank kernel: grids whose values grow with the data span many " +
    "buckets and window per bucket; bounded-domain grids fit one bucket " +
    "and sort once (VERDICT r20 item 7)") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.RankGrid
    def windows(q: String) = withAqeOff {
      try SparkEntry.queries(q)(spark, sf0).queryExecution.executedPlan
      finally SparkEntry.harnessScope.release()
    }.collect { case w: WindowExec => w }
    def ordersBy(w: WindowExec) = w.orderSpec.flatMap(_.child.references.map(_.name))
    def cents(c: String) = (col(c).cast(DecimalType(12, 2)) * 100).cast("long")
    def buckets(df: DataFrame, v: Column) =
      df.select(RankGrid.bucket(v)).distinct().count()
    // bucketed form: a rollup window orders only the bucket, and every
    // window over the value column is partitioned
    Seq("order_gini" -> "v", "group_quantiles" -> "v",
      "stats_spearman" -> "y", "stats_hodges_lehmann" -> "w").foreach {
      case (q, v) =>
        val wins = windows(q)
        assert(wins.exists(w => ordersBy(w) == Seq(RankGrid.Bkt)),
          s"$q lost its bucket rollup")
        val byV = wins.filter(w => ordersBy(w).contains(v))
        assert(byV.nonEmpty, s"$q lost its value windows")
        byV.foreach(w => assert(w.partitionSpec.nonEmpty,
          s"$q sorts $v in one task:\n$w"))
    }
    val orders = Tables.orders(spark, sf0)
    val lineitem = Tables.lineitem(spark, sf0)
    assert(buckets(orders, cents("o_totalprice")) > 1)
    assert(buckets(lineitem, cents("l_extendedprice")) > 1)
    // one-window form over grids the event value domain bounds: the
    // whole cents grid is one bucket, so bucketing could not spread it
    Seq("stats_ks", "stats_ks_uniform", "stats_trimmed_mean",
      "stats_mannwhitney", "stats_cliffs_delta").foreach { q =>
      val wins = windows(q)
      assert(wins.nonEmpty, s"$q lost its rank windows")
      assert(!wins.exists(w => ordersBy(w).contains(RankGrid.Bkt)),
        s"$q took the bucketed form over a one-bucket grid")
    }
    assert(buckets(Tables.events(spark, sf0), cents("value")) == 1)
  }

  test("round-16 closing cohort: transitivity aggregates the memo edge " +
    "list (scalar attaches broadcast), Mood's median grid never " +
    "sort-merges, gap census windows only the bounded calendar") {
    // transitivity: three bounded aggregates over the memoized edge /
    // triangle relations, stitched by broadcast scalar attaches — a
    // SortMergeJoin or shuffled cartesian means a 1-row frame started
    // shuffling like data
    val tr = planOf("graph_transitivity")
    assert(tr.contains("HashAggregate"),
      s"graph_transitivity lost its aggregation:\n$tr")
    assert(!tr.contains("SortMergeJoin") && !tr.contains("CartesianProduct"),
      s"graph_transitivity shuffles a bounded side:\n$tr")
    // Mood's median: everything after the (grp, v) value-grouping is
    // grid-sized (groups × distinct quantities); the median attach,
    // the margin joins and the chi² attach must all broadcast
    val mm = planOf("stats_mood_median")
    assert(!mm.contains("SortMergeJoin") && !mm.contains("CartesianProduct"),
      s"stats_mood_median shuffles its contingency grid:\n$mm")
    assert(mm.contains("BroadcastHashJoin") ||
      mm.contains("BroadcastNestedLoopJoin"),
      s"stats_mood_median lost its broadcast attaches:\n$mm")
    // gap census: one daily aggregation, then islands-and-gaps over
    // the BOUNDED calendar domain — the only window is the cap-gated
    // calendar frame and no join may appear at data scale
    val gc = planOf("window_gap_census")
    assert(gc.contains("HashAggregate"),
      s"window_gap_census lost the daily pre-aggregation:\n$gc")
    assert(!gc.contains("SortMergeJoin") && !gc.contains("CartesianProduct"),
      s"window_gap_census shuffles its calendar grid:\n$gc")
  }

  test("round-17 cohort: md5-native draw expressions stay in the plan " +
    "(no hex-parse regression), quantile merge keeps bounded bottom-k " +
    "partial aggregation, RBO audit never goes cartesian") {
    // the 15 round-17 conversions replaced every
    // conv(substring(md5(...))) chain with the native Md5HexPrefix /
    // Md5SuffixDraws expressions — a refactor that re-introduced the
    // per-row hex format/parse chain would keep the oracle green while
    // silently costing ~3x on the draw-heavy keys, so the NATIVE
    // expression must be what the plan evaluates
    Seq("stats_bootstrap_ci" -> "md5_suffix_draws",
      "stats_perm_test" -> "md5_suffix_draws",
      "sketch_quantile_merge" -> "md5_hex_prefix",
      "sketch_quantiles" -> "md5_hex_prefix",
      "sketch_theta" -> "md5_hex_prefix",
      "sketch_hll_merge" -> "md5_hex_prefix").foreach { case (q, fn) =>
      val plan = planOf(q)
      assert(plan.contains(s"$fn("),
        s"$q no longer evaluates the native $fn:\n${plan.take(2000)}")
      assert(!plan.contains("conv("),
        s"$q regressed to the hex-parse conv chain:\n${plan.take(2000)}")
    }
    // sketch_quantile_merge: the per-shard sample must come from the
    // BOUNDED bottom-k aggregator (map-side partial state of r rows),
    // never a rank-window over the corpus
    val qm = planOf("sketch_quantile_merge")
    assert(qm.toLowerCase.contains("bottomkbyhash"),
      s"sketch_quantile_merge lost the bounded bottom-k aggregator:\n$qm")
    assert(!qm.contains("SortMergeJoin") && !qm.contains("CartesianProduct"),
      s"sketch_quantile_merge shuffles a bounded side:\n$qm")
    // sim_rbo_audit: both ranked lists are nQueries-bounded — the
    // overlap join and the per-query fold must stay off cartesian /
    // sort-merge shapes (the ground-truth leg broadcasts its bounded
    // query side like sim_topk does)
    val rbo = planOf("sim_rbo_audit")
    assert(!rbo.contains("CartesianProduct"),
      s"sim_rbo_audit plans a cartesian product:\n$rbo")
    assert(rbo.contains("HashAggregate") ||
      rbo.contains("ObjectHashAggregate"),
      s"sim_rbo_audit lost its per-query fold aggregation:\n$rbo")
    // round 18: the MinHash agreement count is the NATIVE codegen'd
    // kernel, not the interpreted zip_with/aggregate HOF fold it
    // replaced (evaluated once per candidate pair)
    val est = planOf("dedup_minhash_est_error")
    assert(est.contains("long_array_agree("),
      s"dedup_minhash_est_error lost the native agreement kernel:\n" +
        est.take(2000))
    assert(!est.contains("zip_with"),
      s"dedup_minhash_est_error regressed to the HOF fold:\n${est.take(2000)}")
  }
}
