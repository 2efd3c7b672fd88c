package graft.streaming

import graft.operators.{ExportOps, ExportPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A12/A16 — the streaming face of the export pipeline: Structured
  * Streaming micro-batches with checkpointed, idempotent sink commits.
  *
  * The reference's delivery contract is at-least-once: a block whose write
  * fails mid-way is redelivered wholesale and already-committed endpoint
  * transactions are duplicated (hive/HiveExportClient.java:190-196,
  * hive/HiveSink.java:93-105 — SURVEY.md §4.4.5). We upgrade to
  * exactly-once: the streaming checkpoint makes batch ids stable across
  * restarts, and each batch writes to a `batch_id=N` directory with
  * overwrite — a replayed batch overwrites its own previous (possibly
  * partial) output instead of appending duplicates. Idempotent commit +
  * stable ids = exactly-once output.
  */
object StreamingExport {

  /** Name of the per-batch observed-metrics block every progress event
    * carries (`progress.observedMetrics.get(ObservedMetricsName)`):
    * `n_rows` (batch row count) and `max_ts` (newest event time routed,
    * when the source has a `ts` column — batch-max event time vs the
    * trigger wall clock is the sink-side lag signal). Collected by the
    * SAME job that writes the batch: rate/lag monitoring costs zero
    * extra driver jobs, unlike a per-batch `agg(...).head()`. */
  val ObservedMetricsName = "graft_export"

  /** Route a STREAMING events frame and write each micro-batch as
    * partitioned parquet under `outDir/batch_id=N/`, exactly-once. */
  def exportStream(events: DataFrame, partitionCols: Seq[String],
                   outDir: String, checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   timezone: Option[String] = None): StreamingQuery = {
    val metrics = Seq(count(lit(1)).as("n_rows")) ++
      (if (events.columns.contains("ts")) Seq(max(col("ts")).as("max_ts"))
       else Nil)
    val observed = events.observe(ObservedMetricsName, metrics.head, metrics.tail: _*)
    val routed = ExportPipeline.route(observed, partitionCols, timezone = timezone)
    routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, outDir, batchId)
      }
      .start()
  }

  /** END-TO-END export-conduit parity replay (round 12) — the NINTH
    * streaming module under the driver's full oracle, and the one that
    * IS the reference's whole reason to exist: the events relation
    * staged as `nFiles` time-ranged files ([[Replay]]), replayed
    * through the production [[exportStream]] path (observed metrics +
    * route + exactly-once per-batch partitioned commits), then ALL
    * landed batches read back and summarized with the batch sink's own
    * fidelity reduction — sharing `sink_txn_batch`'s oracle verbatim.
    * What the key pins: every event routed EXACTLY ONCE across the
    * batch commits (a double commit or a dropped batch breaks the
    * counts), and the payload encoding identical to the batch path
    * byte-for-byte (min payload per partition is
    * arrival-order-independent).
    *
    * Scale shape: the replay is the production conduit plan; the split
    * is one bounded repartitionByRange write. */
  def exportParityReplay(events: DataFrame, srcDir: String,
                         outDir: String, checkpointDir: String,
                         nFiles: Int = 5): DataFrame =
    replayExport(events, srcDir, outDir, checkpointDir, nFiles, None)

  /** EXACTLY-ONCE-UNDER-REPLAY replay (round 15, VERDICT r14 item 4) —
    * [[exportParityReplay]] with a FORCED batch redelivery injected:
    * after the stream drains, one micro-batch's foreachBatch body
    * re-executes from its original input file (route → [[writeBatch]]
    * with the same batchId — exactly the duplicate delivery the
    * reference's at-least-once block replay produces,
    * hive/HiveExportClient.java:190-196, where already-committed
    * endpoint transactions are written AGAIN). The landed table must
    * hash-match the no-failure run — which is precisely what the
    * shared oracle pins: idempotent per-batch_id overwrite turns
    * redelivery into a no-op, the semantics upgrade over the
    * reference's duplicated blocks. The staged files are in batch
    * order, so "replay batch N" is well-defined: re-read file N, route,
    * commit as batch N.
    *
    * Output: the [[exportParityReplay]] summary (event_type, n_rows,
    * first_payload) — n_rows counts a doubly-delivered batch once or
    * the key goes red. */
  def exportExactlyOnceReplay(events: DataFrame, srcDir: String,
                              outDir: String, checkpointDir: String,
                              nFiles: Int = 5,
                              replayBatch: Long = 1L): DataFrame = {
    require(replayBatch >= 0L && replayBatch < nFiles,
      s"replayBatch must name one of the $nFiles batches: $replayBatch")
    replayExport(events, srcDir, outDir, checkpointDir, nFiles,
      Some(replayBatch))
  }

  private def replayExport(events: DataFrame, srcDir: String,
                           outDir: String, checkpointDir: String,
                           nFiles: Int,
                           redeliver: Option[Long]): DataFrame = {
    val spark = events.sparkSession
    val staged = Replay.stage(events.repartitionByRange(nFiles, col("ts")),
      srcDir, nFiles)
    Replay.drain(spark) {
      exportStream(staged.stream, Seq("event_type"), outDir, checkpointDir)
    }
    // the duplicate delivery: batch N's body re-runs from its original
    // input file — at-least-once made visible. A split that staged
    // fewer than N + 1 files (a tiny or empty input) redelivers its last
    // batch instead, so the redelivery always runs
    redeliver.map(n => math.min(n, staged.files.length - 1L)).foreach { n =>
      val redelivered = spark.read.schema(events.schema)
        .parquet(staged.files(n.toInt).getPath)
      writeBatch(ExportPipeline.route(redelivered, Seq("event_type")),
        outDir, n)
    }
    val routed = ExportPipeline.route(staged.stream, Seq("event_type"))
    Replay.readBack(spark, outDir, routed.schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("payload_json")).as("first_payload"))
      .orderBy(col("event_type"))
  }

  /** The idempotent per-batch commit: same (batch, batchId) written twice
    * lands in the same directory with overwrite — replay-safe. Exposed
    * for direct testing. */
  def writeBatch(routedBatch: DataFrame, outDir: String, batchId: Long): Unit = {
    val partitionCols = routedBatch.columns.filter(_ != "payload_json").toSeq
    routedBatch.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(s"$outDir/batch_id=$batchId")
  }

  /** Streaming CATALOG export — the reference's actual streaming sink
    * shape: micro-batches land in a partitioned ORC METASTORE table
    * (HCatalog streaming endpoints into db.table,
    * hive/HivePartitionStream.java:62-75; ORC required, README.md:77),
    * not a bare path. Exactly-once without per-batch directories:
    * `batch_id` is the LEADING partition column, and a replayed batch
    * issues `INSERT OVERWRITE ... PARTITION (batch_id=N, <dynamic>)` —
    * the static prefix scopes the overwrite to exactly the
    * `batch_id=N` subtree, clearing even leaves a different earlier
    * attempt wrote, and touches no session conf (a concurrent write in
    * the same session keeps its own overwrite semantics). */
  def exportStreamCatalog(events: DataFrame, table: String,
                          cfg: graft.config.ExportConfig,
                          checkpointDir: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          format: String = "orc"): StreamingQuery = {
    val partitionCols = cfg.partitionColsFor(table).map(_.toLowerCase)
    val routed = ExportPipeline.route(events, partitionCols,
      timezone = Some(cfg.timezone))
    routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchCatalog(batch, cfg.db, table, batchId, format)
      }
      .start()
  }

  /** The idempotent per-batch catalog commit (exposed for direct
    * testing, like [[writeBatch]]): first batch creates the partitioned
    * table (`batch_id` leading); later (and replayed) batches INSERT
    * OVERWRITE with the static partition prefix `batch_id=N` — the
    * overwrite scope is that batch's subtree by SQL semantics alone, so
    * no session conf is toggled (a `partitionOverwriteMode` toggle would
    * leak dynamic-overwrite semantics to concurrent writers, and the
    * per-write DataFrameWriter option is not honored by `insertInto`
    * on catalog tables). */
  def writeBatchCatalog(routedBatch: DataFrame, db: String, table: String,
                        batchId: Long, format: String = "orc"): Unit = {
    val spark = routedBatch.sparkSession
    val d = db.toLowerCase; val ident = s"$d.${table.toLowerCase}"
    val routeCols = routedBatch.columns.filter(_ != "payload_json").toSeq
    val partitionCols = "batch_id" +: routeCols
    val dataCols = routedBatch.columns.filterNot(routeCols.contains).toSeq
    val withBatch = routedBatch.withColumn("batch_id", lit(batchId))
      .repartition(partitionCols.map(col): _*)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$d`")
    if (!spark.catalog.tableExists(ident)) {
      withBatch.write.mode("overwrite")
        .partitionBy(partitionCols: _*).format(format).saveAsTable(ident)
    } else {
      // db- and batch-qualified: two concurrent catalog exports of
      // same-named tables (different dbs, or two queries in one session)
      // must not clobber each other's view between create and INSERT
      val view = s"graft_catalog_batch_${d}_${table.toLowerCase}_$batchId"
      withBatch.createOrReplaceTempView(view)
      try {
        // SELECT order: the table's data columns, then the dynamic
        // partition columns in PARTITION-clause order
        val sel = (dataCols ++ routeCols).map(c => s"`$c`").mkString(", ")
        val spec = (s"batch_id=$batchId" +: routeCols.map(c => s"`$c`"))
          .mkString(", ")
        spark.sql(
          s"INSERT OVERWRITE TABLE $ident PARTITION ($spec) SELECT $sel FROM $view")
      } finally spark.catalog.dropTempView(view)
    }
  }

  /** Schema-generation lifecycle — the reference treats a schema change
    * as a NEW advertised source generation: the old generation's decoder
    * is torn down (sink nudged, executor shut down and awaited —
    * hive/HiveExportClient.java:199-207) and `constructExportDecoder`
    * binds a fresh decoder to the new schema (:210-214). Spark-shaped:
    * ONE streaming query per generation — a Structured Streaming query
    * binds its schema at start, so the generation boundary IS a query
    * restart — each with its own checkpoint and a `gen=G` output
    * namespace. Advertising generation G+1 drains and stops the current
    * query (teardown), then starts a new one bound to the changed frame.
    * Committed output of old generations stays readable next to the new
    * one (`spark.read.option("mergeSchema", true)` unions them — new
    * JSON fields appear, removed ones stop being written). */
  final class GenerationedExport(partitionCols: Seq[String], outDir: String,
                                 checkpointRoot: String) {
    private var current: Option[(Int, StreamingQuery)] = None

    def currentGeneration: Option[Int] = synchronized { current.map(_._1) }

    /** Bind a (possibly schema-changed) source as generation `gen`,
      * tearing down the previous generation's query first. */
    def advertise(events: DataFrame, gen: Int,
                  trigger: Trigger = Trigger.AvailableNow(),
                  timezone: Option[String] = None): StreamingQuery =
      synchronized {
        current.foreach { case (g, q) =>
          require(gen > g, s"generation must advance: got $gen after $g")
          teardown(q)
        }
        val q = exportStream(events, partitionCols, s"$outDir/gen=$gen",
          s"$checkpointRoot/gen-$gen", trigger, timezone)
        current = Some((gen, q))
        q
      }

    /** End-of-life: tear down the live generation (the
      * sourceNoLongerAdvertised arm with no successor). */
    def close(): Unit = synchronized {
      current.foreach { case (_, q) => teardown(q) }
      current = None
    }

    /** Drain in-flight micro-batches, stop, await — the reference's
      * shutdown-and-awaitTermination teardown. */
    private def teardown(q: StreamingQuery): Unit = {
      if (q.isActive) { q.processAllAvailable(); q.stop() }
      q.awaitTermination()
    }
  }

  /** Watermarked tumbling-window counts — the streaming form of
    * Sessionize.tumbling. Late events beyond the watermark are dropped;
    * in append mode a window emits once, when the watermark passes its
    * end. */
  def windowedCounts(events: DataFrame, width: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"))
}
