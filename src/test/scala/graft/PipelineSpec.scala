package graft

import graft.operators.ExportPipeline
import graft.streaming.StreamingExport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Golden write-layout + streaming exactly-once tests (SURVEY.md §5.2
  * items 3-4): partition directory layout with sentinel directories, and
  * replay-idempotent micro-batch commits. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write: golden directory layout incl. sentinel dirs") {
    val df = Seq(
      (1L, "alpha", "EU"), (2L, "beta", "EU"),
      (3L, "gamma", null.asInstanceOf[String]), (4L, "delta", "  "))
      .toDF("id", "msg", "continent")
    val out = Scratch.dir("graft_golden_").toString
    ExportPipeline.writeRouted(ExportPipeline.route(df, Seq("continent")), out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs == Seq("continent=EU", "continent=__VoltDB_unspecified__"))
    val back = spark.read.parquet(out)
    assert(back.count() == 4)
    assert(back.filter(col("continent") === "__VoltDB_unspecified__").count() == 2)
    // payload excludes the partition column and keeps declaration order
    val one = back.filter(col("continent") === "EU")
      .select("payload_json").as[String].collect().sorted.head
    assert(one == """{"id":1,"msg":"alpha"}""")
  }

  test("compaction packs a fragmented partitioned sink, preserving rows") {
    // fragment: 40 tasks × 2 partitions → ~80 small files
    val df = (1L to 400L).map(i => (i, s"msg$i", if (i % 2 == 0) "EU" else "AS"))
      .toDF("id", "msg", "continent")
    val frag = Scratch.dir("graft_frag_").toString
    ExportPipeline.route(df, Seq("continent"))
      .repartition(40)
      .write.mode("overwrite").partitionBy("continent").parquet(frag)
    val fragFiles = spark.read.parquet(frag).inputFiles.length
    assert(fragFiles > 20, s"fixture not fragmented: $fragFiles files")

    val out = Scratch.dir("graft_compact_").toString
    val (rows, inFiles, inBytes) =
      ExportPipeline.compact(spark, frag, out, Seq("continent"))
    assert(rows == 400L && inFiles == fragFiles.toLong && inBytes > 0L)

    val back = spark.read.parquet(out)
    assert(back.count() == 400L)
    // 128 MB target vs a few KB of data → one file per partition
    assert(back.inputFiles.length == 2,
      s"expected 1 file per partition, got ${back.inputFiles.length}")
    // content identical (payload_json, continent) modulo order
    val a = spark.read.parquet(frag).select("payload_json", "continent")
    val b = back.select("payload_json", "continent")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("compaction with sortBy yields disjoint per-file ranges (data skipping)") {
    // route() keeps only (payload_json, partition cols), so sort on the
    // JSON payload: ids are zero-padded so lexicographic order == id
    // order and maxRecordsPerFile's sequential roll gives each file a
    // contiguous, disjoint payload range — the min/max stats a pruned
    // scan needs
    val df = (1L to 400L).map(i => (f"$i%04d", s"msg$i", if (i % 2 == 0) "EU" else "AS"))
      .toDF("id", "msg", "continent")
    val frag = Scratch.dir("graft_fragsort_").toString
    ExportPipeline.route(df, Seq("continent"))
      .repartition(40)
      .write.mode("overwrite").partitionBy("continent").parquet(frag)
    val out = Scratch.dir("graft_compact_sorted_").toString
    // tiny file target → several files per partition, each range-disjoint
    val (rows, _, _) = ExportPipeline.compact(spark, frag, out,
      Seq("continent"), targetFileBytes = 4096L, sortBy = Seq("payload_json"))
    assert(rows == 400L)
    val files = spark.read.parquet(out).inputFiles
    val perPart = files.groupBy(f => f.contains("continent=EU"))
    perPart.foreach { case (_, fs) =>
      assert(fs.length > 1, s"fixture vacuous: only ${fs.length} file(s)")
      val ranges = fs.map { f =>
        val r = spark.read.parquet(f).agg(
          min(col("payload_json")), max(col("payload_json"))).head()
        (r.getString(0), r.getString(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hiA), (loB, _)) =>
          assert(hiA < loB, s"overlapping file ranges: $hiA vs $loB")
        case _ => ()
      }
    }
    // content unchanged by the rearrangement
    val a = spark.read.parquet(frag).select("payload_json", "continent")
    val b = spark.read.parquet(out).select("payload_json", "continent")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("ORC write path: the reference's required sink format round-trips") {
    val df = Seq((1L, "a", "EU"), (2L, "b", "AS")).toDF("id", "msg", "region")
    val out = Scratch.dir("graft_orc_").toString
    ExportPipeline.writeRouted(ExportPipeline.route(df, Seq("region")), out,
      format = "orc")
    val back = spark.read.format("orc").load(out)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("payload_json", "region"))
  }

  test("camelCase field names option (reference builder surface)") {
    import graft.operators.ExportOps
    assert(ExportOps.camelCaseName("COLUMN_NAME") == "columnName")
    assert(ExportOps.camelCaseName("ID") == "id")
    assert(ExportOps.camelCaseName("A_B_C") == "aBC")
    val df = Seq((1L, "x", "EU")).toDF("EVENT_ID", "MSG_TEXT", "REGION")
    val routed = ExportOps.partitionRoute(df, Seq("REGION"), camelCaseFields = true)
    assert(routed.select("payload_json").as[String].head() ==
      """{"eventId":1,"msgText":"x"}""")
  }

  test("schema generations: evolved source schema reads via mergeSchema") {
    val base = Scratch.dir("graft_gen_").toString
    Seq((1L, "a")).toDF("id", "msg").write.parquet(s"$base/gen=1")
    Seq((2L, "b", "extra")).toDF("id", "msg", "note").write.parquet(s"$base/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert(merged.columns.toSet == Set("id", "msg", "note", "gen"))
    assert(merged.count() == 2)
    assert(merged.filter(col("gen") === 1).select("note").head().isNullAt(0))
  }

  test("streaming export: micro-batched, checkpointed, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = Scratch.dir("graft_stream_out_").toString
    val ckpt = Scratch.dir("graft_stream_ckpt_").toString
    mem.addData((1L, "EU"), (2L, "AS"), (3L, null.asInstanceOf[String]))
    val q = StreamingExport.exportStream(
      mem.toDF().toDF("id", "continent"), Seq("continent"), out, ckpt)
    q.processAllAvailable()
    // rate metrics ride the write job itself (no extra per-batch job):
    // every progress event carries the observed n_rows block
    val om = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get(StreamingExport.ObservedMetricsName)))
    assert(om.nonEmpty, "no observed metrics in progress events")
    assert(om.map(_.getAs[Long]("n_rows")).sum == 3)
    q.stop()
    val firstCount = spark.read.parquet(s"$out/batch_id=0").count()
    assert(firstCount == 3)

    // replay the same batch: idempotent overwrite, not append
    val routed = ExportPipeline.route(
      Seq((1L, "EU"), (2L, "AS"), (3L, null.asInstanceOf[String]))
        .toDF("id", "continent"), Seq("continent"))
    StreamingExport.writeBatch(routed, out, 0L)
    assert(spark.read.parquet(s"$out/batch_id=0").count() == 3)

    // restart from checkpoint with new data: continues at next batch id
    mem.addData((4L, "EU"))
    val q2 = StreamingExport.exportStream(
      mem.toDF().toDF("id", "continent"), Seq("continent"), out, ckpt)
    q2.processAllAvailable(); q2.stop()
    val total = spark.read.option("basePath", out).parquet(s"$out/batch_id=*").count()
    assert(total == 4, s"exactly-once total, got $total")
  }

  test("export stream lag metric: max event time observed per batch when " +
    "the source carries ts (batch-max vs wall clock = sink lag)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = Scratch.dir("graft_obs_out_").toString
    val ckpt = Scratch.dir("graft_obs_ckpt_").toString
    val t1 = new java.sql.Timestamp(1700000000000L)
    val t2 = new java.sql.Timestamp(1700000060000L)
    mem.addData((1L, t1, "EU"), (2L, t2, "AS"))
    val q = StreamingExport.exportStream(
      mem.toDF().toDF("id", "ts", "continent"), Seq("continent"), out, ckpt)
    q.processAllAvailable()
    val om = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get(StreamingExport.ObservedMetricsName)))
      .filter(_.getAs[Long]("n_rows") > 0)
    assert(om.nonEmpty, "no observed metrics in progress events")
    assert(om.head.getAs[Long]("n_rows") == 2L)
    assert(om.head.getAs[java.sql.Timestamp]("max_ts") == t2)
    q.stop()
  }

  test("failing micro-batch: checkpoint replays it, overwrite heals partial output") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val mem = MemoryStream[(Long, String)]
    val out = Scratch.dir("graft_fail_out_").toString
    val ckpt = Scratch.dir("graft_fail_ckpt_").toString
    mem.addData((1L, "EU"), (2L, "AS"))
    @volatile var injectFailure = true
    def start() = mem.toDF().toDF("id", "continent")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val routed = ExportPipeline.route(b, Seq("continent"))
        if (injectFailure && id == 0L) {
          // partial write, then die mid-batch — the reference's failed
          // block (hive/HiveExportClient.java:190-196), Spark-shaped
          StreamingExport.writeBatch(routed.filter(col("id") === 1L), out, id)
          injectFailure = false
          throw new RuntimeException("injected sink failure")
        }
        StreamingExport.writeBatch(routed, out, id)
      }.start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // the crash left a partial batch directory behind
    assert(spark.read.parquet(s"$out/batch_id=0").count() == 1)
    // restart from the same checkpoint: batch 0 was never committed, so
    // it REPLAYS, and the idempotent overwrite replaces the partial
    // output instead of appending — exactly-once despite the failure
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val healed = spark.read.option("basePath", out).parquet(s"$out/batch_id=*")
    assert(healed.count() == 2, s"expected healed batch, got ${healed.count()}")
  }

  test("exactly-once export replay: a forced batch redelivery lands zero " +
    "duplicate rows (stream_export_exactly_once's claim)") {
    val base = Scratch.dir("graft_eo_").toString
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val out = StreamingExport.exportExactlyOnceReplay(events,
      s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 5,
      replayBatch = 1L)
    val nIn = events.count()
    // redelivered batch 1 must not append: total landed rows == input
    val landed = spark.read.option("basePath", s"$base/out")
      .parquet(s"$base/out/batch_id=*")
    assert(landed.count() == nIn,
      s"duplicates after redelivery: landed ${landed.count()} of $nIn")
    // and per batch_id, every row is unique (overwrite, not append)
    val dup = landed.groupBy(col("batch_id"), col("payload_json"))
      .count().filter(col("count") > 1).count()
    assert(dup == 0L, s"$dup duplicated (batch, payload) rows")
    // summary equals the batch-side truth
    assert(out.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) == nIn)
  }

  test("exactly-once export replay: a split that stages fewer files than " +
    "the redelivered batch id redelivers its last batch") {
    val base = Scratch.dir("graft_eo_one_").toString
    // one event: the 5-way range split stages a single file (batch 0)
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001").limit(1)
    val out = StreamingExport.exportExactlyOnceReplay(events,
      s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 5,
      replayBatch = 1L)
    assert(new java.io.File(s"$base/src").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1, "expected a one-file split")
    // the redelivered commit rewrote batch 0 AFTER the stream committed it
    val committedAt = new java.io.File(s"$base/ckpt/commits/0").lastModified()
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f) else f.listFiles().toSeq.flatMap(files)
    val parts = files(new java.io.File(s"$base/out/batch_id=0"))
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.lastModified() > committedAt),
      "batch 0 was not redelivered after its streaming commit")
    assert(out.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) == 1L)
  }

  test("streaming exact dedup drops duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((1L, t0), (2L, t0), (1L, t0))
    q.processAllAvailable()
    mem.addData((1L, t0), (3L, t0)) // 1 is a cross-batch duplicate
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join matches events within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val c = clicks.toDF().toDF("user_id", "click_ts").withWatermark("click_ts", "1 hour")
    val b = buys.toDF().toDF("buy_user", "buy_ts").withWatermark("buy_ts", "1 hour")
    val joined = c.join(b,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    clicks.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    buys.addData((1L, ts("2024-01-01 10:20:00")),   // within 30 min → match
      (2L, ts("2024-01-01 11:30:00")))              // 90 min later → no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join").collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("user_id") == 1L)
  }

  test("streaming windowed counts with watermark run end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "view"))
    val agg = StreamingExport.windowedCounts(mem.toDF().toDF("ts", "event_type"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_counts").start()
    q.processAllAvailable(); q.stop()
    // append mode emits only watermark-closed windows; the 00:00 window
    // closed when the 02:00 event advanced the watermark
    val rows = spark.table("win_counts").collect()
    assert(rows.exists(r => r.getAs[Long]("n_events") == 2))
  }

  test("zorderCells: cells cover every row exactly once and bound BOTH " +
    "dims' spans to one normalization bucket — the data-skipping " +
    "property a single-column sort lacks; repartition-invariant") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf0)
    val out = graft.operators.ExportPipeline.zorderCells(orders).collect()
    val total = orders.count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    // global ranges, recomputed independently
    val b = orders.select(
      min(col("o_custkey")), max(col("o_custkey")),
      min(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))),
      max(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))))
      .head()
    val ckRange = b.getLong(1) - b.getLong(0)
    val ddRange = (b.getInt(3) - b.getInt(2)).toLong
    // rows in one cell share a 4-bit code in EACH dim, so each dim's
    // span is at most one code bucket: range div 15 + 1
    out.foreach { r =>
      val ckSpan = r.getAs[Long]("ck_max") - r.getAs[Long]("ck_min")
      val ddSpan = r.getAs[Long]("dd_max") - r.getAs[Long]("dd_min")
      assert(ckSpan <= ckRange / 15 + 1,
        s"cell ${r.getAs[Long]("zcell")}: ck span $ckSpan too wide")
      assert(ddSpan <= ddRange / 15 + 1,
        s"cell ${r.getAs[Long]("zcell")}: dd span $ddSpan too wide")
    }
    val reparted = graft.operators.ExportPipeline
      .zorderCells(orders.repartition(13)).collect()
    assert(reparted.toSeq == out.toSeq)
  }

  test("hilbertCells: the unrolled curve is a bijection whose " +
    "consecutive cells are Manhattan-adjacent (the locality Z-order " +
    "lacks), cells cover every row, repartition-invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // independent driver-side xy→d walk (the Wikipedia algorithm)
    def xy2d(bits: Int, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    // the column expression agrees with the walk on the ENTIRE grid
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y))
      .toDF("nk", "nd")
    val viaCol = grid.withColumn("d",
        graft.operators.ExportPipeline.hilbertD(4, col("nk"), col("nd")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    viaCol.foreach { case ((x, y), d) => assert(d == xy2d(4, x, y)) }
    // bijection onto 0..255, and consecutive d's are grid-adjacent
    val byD = viaCol.map { case (xy, d) => d -> xy }
    assert(byD.keySet == (0L until 256L).toSet, "curve is not a bijection")
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"cells $d -> ${d + 1} jump (${x1},${y1}) -> (${x2},${y2})")
    }
    // operator invariants on the corpus
    val orders = Tables.orders(spark, sf0)
    val out = graft.operators.ExportPipeline.hilbertCells(orders).collect()
    assert(out.map(_.getAs[Long]("n")).sum == orders.count())
    assert(out.forall(r => (0L until 256L).contains(r.getAs[Long]("hcell"))))
    assert(out.toSeq == graft.operators.ExportPipeline
      .hilbertCells(orders.repartition(13)).collect().toSeq)
  }

  test("partitionMigrateRoundTrip: flat gen-1 + partitioned gen-2 " +
    "serve as exactly the source relation; both layouts really exist") {
    val events = Tables.events(spark, sf0)
    val back = graft.operators.SinkOps
      .partitionMigrateRoundTrip(spark, events).collect()
    val want = events.select(col("event_id"), col("user_id"),
        graft.operators.ExportOps.nullSentinel(col("event_type"))
          .as("event_type"), col("value"))
      .orderBy(col("event_id")).collect()
    assert(back.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // layout proof: gen-2 has hive partition dirs, gen-1 does not
    val root = graft.operators.SinkOps.scratchRoot
    val g2dirs = new java.io.File(s"$root/pm_gen2").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(g2dirs >= 2, s"gen-2 not actually partitioned: $g2dirs dirs")
    val g1dirs = Option(new java.io.File(s"$root/pm_gen1").listFiles())
      .get.count(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(g1dirs == 0, "gen-1 unexpectedly partitioned")
  }

  test("deleteVectorRoundTrip: the merge-on-read view equals the " +
    "compacted read row-for-row, and every tombstoned key is gone") {
    val events = Tables.events(spark, sf0)
    val compacted = graft.operators.SinkOps
      .deleteVectorRoundTrip(spark, events).collect()
    // no tombstoned key survives; live count is exactly the complement
    assert(compacted.forall(r => r.getAs[Long]("event_id") % 7 != 3))
    val expectLive = events
      .filter(pmod(col("event_id"), lit(7L)) =!= 3L).count()
    assert(compacted.length.toLong == expectLive)
    // MoR (base ⟕̸ tombstones, pre-compaction) ≡ compacted read: the
    // invariant that makes compaction safe to defer indefinitely
    val written = events.select(col("event_id"), col("user_id"),
      graft.operators.ExportOps.nullSentinel(col("event_type"))
        .as("event_type"), col("value"))
    val tombSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType)))
    val mor = graft.operators.SinkOps.morRead(spark,
        s"${graft.operators.SinkOps.scratchRoot}/dv_base",
        s"${graft.operators.SinkOps.scratchRoot}/dv_tomb",
        written.schema, tombSchema)
      .orderBy(col("event_id")).collect()
    assert(mor.map(_.toSeq).toSeq == compacted.map(_.toSeq).toSeq,
      "merge-on-read view diverged from the compacted read")
  }
}
