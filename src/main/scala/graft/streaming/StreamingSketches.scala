package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming KMV/theta distinct sketch — the streaming face of
  * `sketch_theta`: per-group bottom-k of the 48-bit md5 member hashes,
  * maintained as TYPED state in `flatMapGroupsWithState` (the
  * KeyValueGroupedDataset stateful API), emitting the running distinct
  * estimate on every update.
  *
  * Why a sketch is THE stateful-streaming shape: exact streaming
  * distinct counts need state linear in distinct members (the
  * `StreamingDedup.exactGlobal` caveat); the KMV store is ≤ k longs per
  * group FOREVER — the bounded-state discipline every 100 TB/day stream
  * job needs, with the estimate's error itself deterministic.
  *
  * EQUIVALENCE BY HASH DETERMINISM (the spec's core assertion): the
  * hash is the same pure function of the member key as the batch
  * operator's (`Sketches.thetaSketch` — 48-bit md5 prefix), and
  * bottom-k-of-distinct is order-insensitive, so after ANY prefix of
  * the stream the state equals the batch sketch of exactly the rows
  * seen so far — regardless of micro-batch boundaries, arrival order,
  * or repartitioning. Streaming and batch answers can never drift.
  */
object StreamingSketches {

  val Space: Long = 1L << 48

  /** The batch operator's member hash, computed JVM-side: the integer
    * value of the first 12 hex chars (48 bits) of md5(key). */
  def hash48(key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(key.getBytes("UTF-8"))
    // first 6 bytes, big-endian — identical to parsing the first 12
    // hex chars of the digest string
    (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  /** Bounded per-group state: the ≤ k smallest DISTINCT member hashes,
    * kept sorted ascending. */
  final case class KmvState(hashes: List[Long])

  /** One update row per group per micro-batch: the sketch summary in
    * the batch operator's per-type schema (n_exact is unknowable from
    * bounded state and therefore absent — that column is the batch
    * audit, not the sketch). */
  final case class KmvUpdate(scope: String, n_retained: Long,
                             kth_hash: Long, est: Double)

  /** The estimator — shared with [[KmvUpdate]] construction and the
    * spec: exact retained count when the sketch underfills, else
    * (k−1)·2^48 / h_k (both branches bit-identical to the batch
    * operator's). */
  def estimate(k: Int, hashes: List[Long]): Double =
    if (hashes.size < k) hashes.size.toDouble
    else ((k - 1).toLong * Space).toDouble / hashes.last.toDouble

  /** Per-event-type running distinct-user sketch over a stream of
    * (event_type, user_id) rows. OutputMode must be Update (each
    * micro-batch re-emits the groups it touched). */
  def kmvPerType(events: DataFrame, k: Int = 64): Dataset[KmvUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_type", "CAST(user_id AS STRING) AS member")
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: org.apache.spark.sql.streaming.GroupState[KmvState]) =>
          val prev = state.getOption.map(_.hashes).getOrElse(Nil)
          val incoming = rows.map(r => hash48(r._2))
          // distinct-merge then bottom-k: order-insensitive, so any
          // micro-batch slicing converges to the same state
          val merged = (prev.iterator ++ incoming).toSeq
            .distinct.sorted.take(k).toList
          state.update(KmvState(merged))
          Iterator(KmvUpdate(key, merged.size.toLong,
            if (merged.isEmpty) 0L else merged.last,
            estimate(k, merged)))
      }
  }

  /** END-TO-END sketch-state parity replay (round 12) — the EIGHTH
    * streaming module under the driver's full oracle: events staged
    * as `nFiles` user_id-ranged files (members of one type are
    * scattered across the id space, so every sketch accumulates across
    * micro-batches), replayed ([[Replay]]) through
    * [[kmvPerType]] in UPDATE mode, each batch's re-emitted groups
    * committed to `batch_id=N`; the final answer takes each scope's row
    * from its LARGEST batch id — the last state the sketch reached —
    * and hash-compares it against the batch bottom-k replay (the same
    * du/rk/sk front as `sketch_theta`'s oracle). The distinct-merge
    * bottom-k state is ORDER-INSENSITIVE, which is exactly the claim
    * this key pins: any micro-batch slicing must converge to the batch
    * sketch bit-for-bit, estimator error included.
    *
    * Scale shape: the replay is the production [[kmvPerType]] plan
    * (bounded per-group state); the split is one bounded
    * repartitionByRange write. */
  def kmvParityReplay(events: DataFrame, srcDir: String, outDir: String,
                      checkpointDir: String, nFiles: Int = 5,
                      k: Int = 64): DataFrame = {
    val spark = events.sparkSession
    import org.apache.spark.sql.functions._
    val staged = Replay.stage(events.select(col("event_type"), col("user_id"))
      .repartitionByRange(nFiles, col("user_id")), srcDir, nFiles)
    val updates = kmvPerType(staged.stream, k).toDF()
    Replay.drainEach(updates, checkpointDir, "update")(Replay.commit(outDir))
    // last state per scope: the row from its largest committed batch
    Replay.readCommits(spark, outDir, updates.schema)
      .groupBy(col("scope"))
      .agg(max_by(
        struct(col("n_retained"), col("kth_hash"), col("est")),
        col("batch_id")).as("s"))
      .select(col("scope"), col("s.n_retained").as("n_retained"),
        col("s.kth_hash").as("kth_hash"), col("s.est").as("est"))
      .orderBy(col("scope"))
  }
}
