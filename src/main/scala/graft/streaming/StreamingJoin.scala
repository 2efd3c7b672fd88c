package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked stream-stream interval join — the streaming face of the
  * batch range join (Relational.rangeJoin): match right-stream rows to
  * left-stream rows on an equi-key within a bounded event-time window.
  *
  * Why the bounds are mandatory: a stream-stream join buffers BOTH
  * sides in the state store until a match can be ruled out. The
  * watermarks plus the two-sided time constraint give the engine an
  * eviction proof — a left row older than (right watermark − upper) can
  * never match again and is dropped — so state is bounded by the time
  * window × arrival rate, never by stream history. Without the interval
  * condition the state store grows forever; this operator makes the
  * bound part of the API instead of a caller obligation.
  *
  * Inner join only: stream-stream outer joins emit null-padded rows at
  * watermark expiry (late, by design); the pipeline-gate use cases this
  * library targets (impression↔click, request↔response, interval
  * containment) want the matched pairs. */
object StreamingJoin {

  /** Join rows of `left` and `right` sharing `key` where
    * `right.ts ∈ [left.ts + lowerSec, left.ts + upperSec]`. Column
    * names on both inputs must include `key` and an event-time `ts`;
    * output columns are key, l_ts, r_ts plus the non-key payloads of
    * both sides (left's first). */
  def interval(left: DataFrame, right: DataFrame, key: String,
               lowerSec: Long = 0L, upperSec: Long = 3600L,
               watermark: String = "10 minutes"): DataFrame = {
    require(lowerSec <= upperSec,
      s"empty interval: lowerSec=$lowerSec > upperSec=$upperSec")
    val l = left.withWatermark("ts", watermark)
      .select(col(key) +: left.columns.filter(_ != key).map(c =>
        col(c).as(s"l_$c")): _*)
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("__rkey") +: right.columns.filter(_ != key).map(c =>
        col(c).as(s"r_$c")): _*)
    l.join(r,
        col(key) === col("__rkey") &&
          col("r_ts") >= col("l_ts") + expr(s"INTERVAL $lowerSec SECOND") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $upperSec SECOND"))
      .drop("__rkey")
  }

  /** END-TO-END stream-stream-join parity replay (round 12) — the
    * sixth streaming module under the driver's full oracle, and the
    * one with TWO-SIDED state: click and purchase legs of the events
    * corpus each staged as `nFiles` time-ranged files in range order
    * ([[Replay]] — out-of-order arrival would put early rows late
    * behind the advanced watermark, on either side), replayed through
    * [[interval]]. Cross-batch proof: a click in batch 2 matches a
    * purchase in batch 6 only if the join STATE carried it — and inner
    * stream-stream joins emit every on-time match with no end-of-stream
    * flush needed (a pair emits when its later side arrives; ordered
    * replay means no row is ever late), so append commits union to
    * exactly the batch inequality join.
    *
    * Scale shape: the replay is the production [[interval]] plan —
    * state bounded by window × arrival rate; the splits are two
    * bounded repartitionByRange writes. */
  def intervalParityReplay(events: DataFrame, srcDir: String,
                           outDir: String, checkpointDir: String,
                           nFiles: Int = 5, upperSec: Long = 3600L,
                           watermark: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    def side(tag: String, eventType: String): DataFrame =
      Replay.stage(events.filter(col("event_type") === eventType)
        .select(col("user_id"), col("ts"), col("event_id"))
        .repartitionByRange(nFiles, col("ts")), s"$srcDir/$tag", nFiles)
        .stream
    val joined = interval(side("l", "click"), side("r", "purchase"),
        "user_id", lowerSec = 0L, upperSec = upperSec, watermark = watermark)
      .select(col("user_id"), col("l_ts"), col("l_event_id"),
        col("r_ts"), col("r_event_id"))
    Replay.drainEach(joined, checkpointDir, "append")(Replay.commit(outDir))
    Replay.readBack(spark, outDir, joined.schema)
      .select(joined.columns.map(col): _*)
      .orderBy(col("user_id"), col("l_event_id"), col("r_event_id"))
  }
}
