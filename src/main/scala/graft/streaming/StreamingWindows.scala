package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Streaming face of Sessionize.tumbling — watermarked tumbling-window
  * aggregation in APPEND mode: a window row is emitted exactly once,
  * after the watermark passes the window's end (closed-window
  * semantics — what a downstream exactly-once sink wants, since a row,
  * once written, never changes). State is bounded: the engine evicts
  * window state older than the watermark, so long-running queries hold
  * (windows-in-horizon × group keys), not history.
  *
  * Same grouping expressions as the batch form (window() is a grouping
  * column ⇒ partial aggregation; the shuffle carries (window, key)
  * partials only), so the batch oracle `event_window_tumbling` IS the
  * correctness reference for what each closed window must contain.
  */
object StreamingWindows {

  def tumbling(events: DataFrame, width: String = "1 hour",
               watermark: String = "10 minutes"): DataFrame =
    hopping(events, width, width, watermark)

  /** Hopping (sliding) windows: `width`-wide windows advancing every
    * `slide` — each event lands in width/slide overlapping windows.
    * Catalyst expands window() to the covering window set BEFORE
    * aggregation (and collapses to the tumbling fast path when slide ==
    * width), so partial aggregation, append-mode closed-window emission
    * and watermark state eviction all work exactly as in [[tumbling]];
    * state (and shuffle) grow by the overlap factor width/slide, still
    * bounded by the watermark horizon. */
  def hopping(events: DataFrame, width: String = "1 hour",
              slide: String = "15 minutes",
              watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** END-TO-END streaming parity replay (round 12) — the proof that the
    * streaming path computes the SAME answer as the batch engine, under
    * the driver's own oracle: the batch `events` relation is staged
    * as `nFiles` time-ranged files, replayed as a genuine
    * multi-micro-batch file stream ([[Replay]], so the
    * tumbling aggregation's state really accumulates ACROSS batches —
    * one batch would prove nothing about streaming state), run through
    * [[tumbling]], and the final materialized result is returned for
    * the hash-compare against the batch `event_window_tumbling` SQL.
    *
    * Output mode is COMPLETE via foreachBatch (each batch overwrites
    * `outDir`; the last write is the full aggregate): append's
    * closed-window-only emission is the right production contract but
    * structurally CANNOT reach batch parity at end-of-stream — windows
    * not yet passed by the watermark stay in state forever when the
    * stream ends, so the trailing windows would be missing by design.
    * Complete mode keeps every window in state (no watermark eviction)
    * and its final emission is exactly the batch aggregation — decimal
    * sum state is associative and exact, so even the double cast is
    * bit-identical. The append contract is exercised by the streaming
    * specs; THIS key pins cross-batch state correctness to the oracle.
    *
    * Scale shape: identical to [[tumbling]] (the replay IS that query);
    * the file split is one bounded repartitionByRange write, and the
    * complete-mode state is (windows × types) — horizon-bounded in
    * production by switching back to append, as documented there. */
  def tumblingParityReplay(events: DataFrame, srcDir: String,
                           outDir: String, checkpointDir: String,
                           nFiles: Int = 8, width: String = "1 hour",
                           watermark: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    // time-ranged split: micro-batches arrive in event-time order, the
    // shape a real replayed stream has (and what lets the watermark
    // actually advance batch-over-batch)
    val staged = Replay.stage(events.repartitionByRange(nFiles, col("ts")),
      srcDir, nFiles)
    val windows = tumbling(staged.stream, width, watermark)
    Replay.drainEach(windows, checkpointDir, "complete") { (b, _) =>
      b.write.mode("overwrite").parquet(outDir)
    }
    Replay.readBack(spark, outDir, windows.schema)
      .orderBy(col("win_start"), col("event_type"))
  }

  /** STREAMING ROLLING-WAU PARITY (round 15) — the batch
    * `event_rolling_wau` re-derived from a replayed stream. The part
    * that is genuinely streaming is the EXACTLY-ONCE (user, day) pair
    * extraction: dropDuplicates state across micro-batches must emit
    * each pair in exactly one commit (a state miss double-commits a
    * pair; dropping the idempotent per-batch_id overwrite would
    * double-count on replay) — the [[graft.streaming.StreamingDedup]]
    * exact-dedup contract on a composite key. The WAU fan-out and
    * distinct counts then run as the SHARED batch tail over the
    * committed pair log ([[graft.operators.Relational
    * .rollingWauFromPairs]]) — one code path, two ingestion modes, so
    * a hash mismatch can only come from the streaming leg. Pair state
    * is (users × days)-bounded.
    *
    * Output: identical to `event_rolling_wau`. */
  def wauParityReplay(events: DataFrame, srcDir: String, outDir: String,
                      checkpointDir: String, nFiles: Int = 5): DataFrame = {
    val spark = events.sparkSession
    val staged = Replay.stage(
      events.select(col("event_id"), col("ts"), col("user_id"))
        .repartitionByRange(nFiles, col("event_id")), srcDir, nFiles)
    val pairs = StreamingDedup.exactGlobal(staged.stream.select(
      date_trunc("day", col("ts")).as("day"), col("user_id")),
      Seq("day", "user_id"))
    Replay.drainEach(pairs, checkpointDir, "append")(Replay.commit(outDir))
    graft.operators.Relational.rollingWauFromPairs(
      Replay.readBack(spark, outDir, pairs.schema)
        .select(col("day"), col("user_id")))
  }

  /** STREAMING WEEKLY-OHLC PARITY (round 16) — the batch
    * `window_ohlc_weekly` re-derived from a replayed orders stream.
    * The genuinely streaming part is the CROSS-BATCH daily revenue
    * aggregation: orders for one calendar day arrive across
    * micro-batches (time-ranged files split mid-day), so the
    * complete-mode aggregate's state must accumulate a day's cents
    * across batches — exactly [[tumblingParityReplay]]'s contract at
    * the daily grain, on exact BIGINT cent sums (associative, any
    * merge order). The gap-fill + OHLC resample then runs as the
    * SHARED batch tail over the final committed daily table
    * ([[graft.operators.Relational.weeklyOhlcFromDaily]]) — one code
    * path, two ingestion modes, so a hash mismatch can only come from
    * the streaming aggregation.
    *
    * Output: identical to `window_ohlc_weekly`. */
  def ohlcParityReplay(orders: DataFrame, srcDir: String, outDir: String,
                       checkpointDir: String, nFiles: Int = 6): DataFrame = {
    val spark = orders.sparkSession
    // split by ORDER KEY, not date: every micro-batch carries orders
    // from across the whole span, so (almost) every day's sum is
    // genuinely assembled from multi-batch state — a date-ranged split
    // would let each day close within one batch and prove nothing
    val staged = Replay.stage(
      orders.select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .repartitionByRange(nFiles, col("o_orderkey")), srcDir, nFiles)
    val daily = staged.stream
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("rev"))
    Replay.drainEach(daily, checkpointDir, "complete") { (b, _) =>
      b.write.mode("overwrite").parquet(outDir)
    }
    graft.operators.Relational.weeklyOhlcFromDaily(
      Replay.readBack(spark, outDir, daily.schema))
  }
}
