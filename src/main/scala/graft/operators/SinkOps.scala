package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A12-A16, A18 — the reference's sink-side machinery re-expressed as
  * declarative, oracle-checkable operators plus a real partitioned write.
  *
  * The reference implements these imperatively (writer thread pools,
  * connection caches, retry loops); in Spark most of that machinery IS the
  * engine (task scheduling, committers, task retry). What remains
  * semantically observable — batch boundaries, writer assignment,
  * partition layout, cache eviction policy, suppression windows — is
  * modeled as data transformations here so the driver oracle can check it.
  */
object SinkOps {

  /** A12 batch_barrier — micro-batch assembly: rows chunked into blocks of
    * `blockSize` by stream order, one summary row per block (the
    * onBlockStart / processRow / onBlockCompletion cycle,
    * hive/HiveExportClient.java:171-196). */
  def batchBarrier(events: DataFrame, blockSize: Int = 1000): DataFrame =
    events
      .withColumn("batch_id", expr(s"event_id div $blockSize"))
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("event_id")).as("first_row"),
        max(col("event_id")).as("last_row"))
      .orderBy(col("batch_id"))

  /** A13 parallel_sink_write — writer-thread assignment: endpoint hashed
    * to one of `writers` lanes so each partition is written by exactly one
    * lane (per-partition serial order, cross-partition parallel;
    * hive/HiveSink.java:45-57,67-72). The hash is md5-based so the DuckDB
    * oracle computes the identical assignment. */
  def writerAssignment(routed: DataFrame, partitionCol: String,
                       writers: Int = 4): DataFrame =
    routed
      .withColumn("writer_id", pmod(ascii(substring(md5(col(partitionCol)), 1, 1)), lit(writers)))
      .groupBy(col("writer_id"))
      .agg(
        countDistinct(col(partitionCol)).as("n_endpoints"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("writer_id"))

  /** One scratch root per JVM for sink round-trips, removed on exit —
    * repeated bench/verify invocations overwrite the same subdirectory
    * instead of leaking a fresh temp dir per call. */
  private[graft] lazy val scratchRoot: java.nio.file.Path =
    graft.Scratch.dir("graft_sink_")

  /** A14 sink_txn_batch — the real partitioned, committed write: route
    * events by sentinel-normalized event_type, write
    * partitionBy(event_type) parquet through Spark's commit protocol, read
    * the committed result back and summarize per partition. Exercises the
    * full physical sink path (dynamic partition dirs, sentinel directory
    * names, atomic commit) with an oracle-checkable result. */
  def txnBatchRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/txn_batch"
    val routed = ExportPipeline.route(events, Seq("event_type"))
    ExportPipeline.writeRouted(routed, out)
    // explicit schema: a committed EMPTY batch leaves only _SUCCESS in
    // the directory, and schema inference over zero files throws — a
    // sink reader must never re-infer what the writer already knows
    spark.read.schema(routed.schema).parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("payload_json")).as("first_payload"))
      .orderBy(col("event_type"))
  }

  /** Catalog + ORC face of A14 — the reference's true sink contract
    * (metastore table, ORC storage: reference README.md:77 "currently ORC
    * is required"): route events by sentinel-normalized event_type, write
    * them into a partitioned ORC CATALOG table via
    * [[ExportPipeline.exportCatalogTable]], read the table back through
    * the metastore and summarize per partition. The summary equals
    * sink_txn_batch's (same routing, different physical sink) — which is
    * exactly the point: the oracle proves the ORC catalog round-trip is
    * lossless. */
  def catalogOrcRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val cfg = graft.config.ExportConfig(
      db = "graft_scratch", table = "events_orc",
      partitionColumns = Map("EVENTS_ORC" -> Seq("EVENT_TYPE")))
    // fresh generation per invocation: repeated verify/bench runs must
    // not accrete appends into the scratch table (and a previous JVM's
    // orphan location must not fail saveAsTable)
    ExportPipeline.dropTableAndLocation(spark, "graft_scratch", "events_orc")
    val ident = ExportPipeline.exportCatalogTable(events, "events_orc", cfg)
    spark.table(ident)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("payload_json")).as("first_payload"))
      .orderBy(col("event_type"))
  }

  /** Small-file compaction round-trip (round 8): fragment a partitioned
    * sink on purpose (50 writer tasks × every partition), compact it
    * with a clustering sortBy ([[ExportPipeline.compact]]), read back.
    * Row fidelity is the oracle's job; packing/file-count mechanics are
    * PipelineSpec's. Partition values go through the null/blank
    * sentinel FIRST — the dynamic-partition writer maps empty/blank
    * values to __HIVE_DEFAULT_PARTITION__ (reads back as null), so an
    * unsentineled round trip would be lossy on exactly the values the
    * reference's routing treats specially (same discipline as
    * [[txnBatchRoundTrip]]). Scratch dirs live under the per-JVM
    * [[scratchRoot]] — overwritten per call, removed on exit. */
  def compactRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val frag = s"$scratchRoot/compact_frag"
    val out = s"$scratchRoot/compact_out"
    val written = events
      .select(col("event_id"), col("user_id"),
        ExportOps.nullSentinel(col("event_type")).as("event_type"),
        col("value"))
    written.repartition(50)
      .write.mode("overwrite").partitionBy("event_type").parquet(frag)
    // explicit schema on both reads: an empty source writes zero part
    // files and schema inference would throw on the very input a
    // maintenance pass must pass through
    ExportPipeline.compact(spark, frag, out, Seq("event_type"),
      sortBy = Seq("event_id"), schema = Some(written.schema))
    spark.read.schema(written.schema).parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** PARTITION-LAYOUT MIGRATION (round 15) — the lake transition every
    * maturing dataset goes through: generation 1 was written FLAT
    * (partition column as a plain data column — the cheap day-one
    * layout), generation 2 is written partitionBy (the layout pruning
    * needs), and until a backfill rewrites gen-1 the table IS both
    * generations served as one relation. This proves that serve
    * lossless: rows split deterministically (event_id parity), gen-1
    * lands flat, gen-2 lands partitioned (sentineled values — the
    * dynamic-partition writer maps blanks/nulls to the default dir),
    * both read back under the SAME explicit schema and union BY NAME
    * (the partition column re-enters gen-2 rows from directory names
    * at a different column position — positional union would silently
    * swap columns).
    *
    * Output: (event_id, user_id, event_type, value), all rows,
    * ordered. */
  def partitionMigrateRoundTrip(spark: SparkSession,
                                events: DataFrame): DataFrame = {
    val gen1 = s"$scratchRoot/pm_gen1"
    val gen2 = s"$scratchRoot/pm_gen2"
    val written = events
      .select(col("event_id"), col("user_id"),
        ExportOps.nullSentinel(col("event_type")).as("event_type"),
        col("value"))
    written.filter(pmod(col("event_id"), lit(2L)) === 0L)
      .repartition(4).write.mode("overwrite").parquet(gen1)
    written.filter(pmod(col("event_id"), lit(2L)) === 1L)
      .repartition(4).write.mode("overwrite")
      .partitionBy("event_type").parquet(gen2)
    val a = spark.read.schema(written.schema).parquet(gen1)
    val b = spark.read.schema(written.schema).parquet(gen2)
    a.unionByName(b)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("event_id"))
  }

  /** DELETE-VECTOR (merge-on-read) ROUND TRIP (round 15) — the
    * lakehouse delete pattern at 100 TB: a delete never rewrites the
    * base files at commit time; it lands as a tiny TOMBSTONE relation
    * (here: the deleted keys) and every read applies it as an
    * anti-join until a compaction folds it in. This operator proves
    * the full lifecycle lossless: write the base, write the tombstones
    * (event_id ≡ 3 mod 7 — deterministic, ~14%), read BOTH back under
    * explicit schemas (the empty-write doctrine), serve the
    * merge-on-read view (left_anti on the key — a key-partitioned
    * shuffle join; real delete vectors are per-file bitmaps, the
    * relation-level anti-join is the engine-portable equivalent with
    * the same plan shape), then COMPACT (apply the vector once,
    * rewrite) and re-read. The returned relation is the compacted
    * read; PipelineSpec asserts the MoR view and the compacted
    * read are row-identical — the invariant that makes compaction
    * safe to run lazily.
    *
    * Output: (event_id, user_id, event_type, value) live rows,
    * ordered. */
  def deleteVectorRoundTrip(spark: SparkSession,
                            events: DataFrame): DataFrame = {
    val base = s"$scratchRoot/dv_base"
    val dels = s"$scratchRoot/dv_tomb"
    val comp = s"$scratchRoot/dv_compact"
    val written = events
      .select(col("event_id"), col("user_id"),
        ExportOps.nullSentinel(col("event_type")).as("event_type"),
        col("value"))
    written.repartition(8).write.mode("overwrite").parquet(base)
    written.filter(pmod(col("event_id"), lit(7L)) === 3L)
      .select(col("event_id"))
      .repartition(1).write.mode("overwrite").parquet(dels)
    val tombSchema = StructType(Seq(StructField("event_id", LongType)))
    val morView = morRead(spark, base, dels, written.schema, tombSchema)
    morView.repartition(4).write.mode("overwrite").parquet(comp)
    spark.read.schema(written.schema).parquet(comp)
      .orderBy(col("event_id"))
  }

  /** The merge-on-read view: base files minus tombstoned keys. Shared
    * by [[deleteVectorRoundTrip]] and PipelineSpec's
    * MoR-equals-compacted assertion. */
  private[graft] def morRead(spark: SparkSession, baseDir: String,
                             tombDir: String,
                             baseSchema: org.apache.spark.sql.types.StructType,
                             tombSchema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.read.schema(baseSchema).parquet(baseDir)
      .join(spark.read.schema(tombSchema).parquet(tombDir),
        Seq("event_id"), "left_anti")

  /** A15 conn_pool — LRU(max)+TTL cache semantics over endpoints: an
    * endpoint's last access is its newest event; it stays cached iff it is
    * within the `maxSize` most-recently-used AND idle less than `ttlMin`
    * minutes at end-of-stream (hive/HiveConnectionPool.java:45-57).
    *
    * The global LRU ranking below is a SINGLE-PARTITION Window — correct
    * and cheap precisely because endpoint cardinality is pool-bounded
    * (the reference caps the pool at 64 connections), but the operator
    * accepts an arbitrary `partitionCol`, and a high-cardinality column
    * would silently funnel the whole relation into one sorting task.
    * `maxEndpoints` makes that a loud failure instead: an IN-PLAN
    * assert_true branch over the endpoint count (reusing the groupBy's
    * exchange, so the aggregation runs once) aborts the job at
    * execution with the column named — the same row-level gate
    * discipline as [[Dedup.boundedCandidatePairs]]. Construction stays
    * lazy; the failure surfaces when the query runs. */
  def connPoolState(events: DataFrame, partitionCol: String,
                    maxSize: Int = 64, ttlMin: Int = 30,
                    maxEndpoints: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lastSeen = events
      .select(ExportOps.nullSentinel(col(partitionCol)).as("endpoint"), col("ts"))
      .groupBy(col("endpoint"))
      .agg(max(col("ts")).as("last_seen"), count(lit(1)).as("n_uses"))
    // IN-PLAN cardinality gate (an eager probe would run the whole
    // aggregation twice; this 1-row count branch reuses the groupBy's
    // exchange and costs nothing): over-cap endpoints abort the job
    // with the column named, before the one-task ranking sort finishes
    // consuming them — same assert_true discipline as
    // Dedup.boundedCandidatePairs.
    val nEndpoints = lastSeen.agg(count(lit(1)).as("n_ep"))
    val gated = lastSeen.crossJoin(broadcast(nEndpoints))
      .filter(assert_true(col("n_ep") <= maxEndpoints,
        lit(s"connPoolState: column '$partitionCol' has more than " +
          s"$maxEndpoints distinct endpoints — the global LRU ranking " +
          "would sort them in ONE task. A connection-pool state over " +
          "that many endpoints is almost certainly the wrong column; " +
          "raise maxEndpoints only if it is not.")).isNull)
      .drop("n_ep")
    val w = Window.orderBy(col("last_seen").desc, col("endpoint"))
    gated
      .withColumn("lru_rank", row_number().over(w).cast("long"))
      .withColumn("idle_sec",
        unix_timestamp(max(col("last_seen")).over(Window.partitionBy()))
          - unix_timestamp(col("last_seen")))
      .withColumn("cached",
        col("lru_rank") <= maxSize && col("idle_sec") < ttlMin * 60)
      .select(col("endpoint"), col("last_seen"), col("n_uses"),
        col("lru_rank"), col("idle_sec"), col("cached"))
      .orderBy(col("endpoint"))
  }

  /** Connection-oriented sink write through the per-executor
    * [[ConnectionPool]] — the behavioral face of A15 for the one sink
    * class where Spark does not manage connections (JDBC-style
    * endpoints). Each partition task routes rows by `endpointCol`
    * through `pool.get` (shared LRU+TTL cache per executor JVM); a
    * failed write EVICTS the endpoint's connection and retries on a
    * fresh one, up to [[WriteAttempts]] total attempts — the reference's
    * write envelope (evict: hive/HiveSink.java:78-80; attempts:
    * hive/HivePartitionStream.java:147-173). Exhaustion rethrows, which
    * under Spark surfaces as task failure → task retry → job failure,
    * the engine-level analogue of the reference's block restart. */
  def pooledPartitionWrite[C](df: DataFrame, endpointCol: String,
                              poolId: String,
                              connect: String => C,
                              writeRow: (C, org.apache.spark.sql.Row) => Unit,
                              closeConn: C => Unit,
                              maxSize: Int = ConnectionPool.DefaultPoolSize,
                              ttlMillis: Long = ConnectionPool.DefaultTtlMillis): Unit = {
    val attempts = WriteAttempts
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val pool = ConnectionPool.registered(poolId)(
        new ConnectionPool[String, C](connect, closeConn, maxSize, ttlMillis))
      it.foreach { row =>
        val ep = row.getAs[String](endpointCol)
        // boundedRetry with reconnect-after-every-failure: eviction makes
        // the next pool.get load a fresh connection
        try boundedRetry(attempts,
          betweenAttempts = _ => pool.evict(ep),
          onExhausted = () => pool.evict(ep)) { () =>
          writeRow(pool.get(ep), row)
        } catch {
          case e: Exception => throw new RuntimeException(
            s"write to $ep failed after $attempts attempts on fresh " +
              "connections", e)
        }
      }
    }
  }

  /** A16 retry constants — the reference's hard-coded envelope:
    * batch fetch = 4 attempts, 30 ms sleep between, reconnect on final
    * failure (hive/HivePartitionStream.java:91-112); write = 3 attempts,
    * reconnect after EVERY failure, exhaustion propagates as a
    * block-restarting exception (hive/HivePartitionStream.java:147-173;
    * block replay hive/HiveExportClient.java:190-196). */
  val FetchAttempts = 4
  val FetchBackoffMs = 30L
  val WriteAttempts = 3

  /** A16 retry_reconnect — the bounded-retry envelope itself, the code
    * both [[retryFetch]] and [[retryWrite]] run: try `op` up to `attempts`
    * times, run `betweenAttempts(attemptNo)` after each non-final failure,
    * `onExhausted()` after the final one, then rethrow the last error.
    * Spark context: this wraps DRIVER-side sink actions (a commit, a
    * stream fetch) — task-level retry inside a job is Spark's own
    * spark.task.maxFailures, and micro-batch replay is the checkpointed
    * restart spec-checked in StreamingExportSpec. */
  def boundedRetry[T](attempts: Int,
                      betweenAttempts: Int => Unit = _ => (),
                      onExhausted: () => Unit = () => ())(op: () => T): T = {
    require(attempts > 0)
    var left = attempts
    var lastErr: Throwable = null
    while (left > 0) {
      try return op()
      catch { case e: Exception =>
        lastErr = e
        left -= 1
        if (left > 0) betweenAttempts(attempts - left) else onExhausted()
      }
    }
    throw lastErr
  }

  /** Fetch envelope: 4 attempts, 30 ms between, reconnect on exhaustion
    * (hive/HivePartitionStream.java:91-112). `sleep` injectable for tests. */
  def retryFetch[T](reconnect: () => Unit,
                    sleep: Long => Unit = Thread.sleep)(op: () => T): T =
    boundedRetry(FetchAttempts,
      betweenAttempts = _ => sleep(FetchBackoffMs),
      onExhausted = reconnect)(op)

  /** Write envelope: 3 attempts, reconnect after every failure including
    * the last (hive/HivePartitionStream.java:147-173). */
  def retryWrite[T](reconnect: () => Unit)(op: () => T): T =
    boundedRetry(WriteAttempts,
      betweenAttempts = _ => reconnect(),
      onExhausted = reconnect)(op)

  /** The envelope's schedule as data, DERIVED from the same constants the
    * envelopes above consume — the driver-oracle view of A16. */
  def retryPolicy(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val fetch = (1 to FetchAttempts).map { a =>
      ("txn_batch_fetch", a,
        if (a < FetchAttempts) FetchBackoffMs.toInt else 0,
        if (a < FetchAttempts) "retry" else "reconnect")
    }
    val write = (1 to WriteAttempts).map { a =>
      ("write", a, 0,
        if (a < WriteAttempts) "reconnect_and_retry" else "restart_block")
    }
    (fetch ++ write)
      .toDF("operation", "attempt", "backoff_ms", "on_failure")
      .orderBy(col("operation"), col("attempt"))
  }

  /** A18 rate_limited_log — 10 s suppression window per message
    * (hive/HiveExportLogger.java:36-49), modeled on event_type as the
    * message key: emit the first event per (key, 10 s bucket), count the
    * suppressed rest. */
  def rateLimitedLog(events: DataFrame, windowSec: Int = 10): DataFrame =
    events
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(min(col("ts")).as("emitted_ts"), (count(lit(1)) - 1).as("n_suppressed"))
      .select(col("event_type"), col("window.start").as("win_start"),
        col("emitted_ts"), col("n_suppressed"))
      .orderBy(col("event_type"), col("win_start"))
}
