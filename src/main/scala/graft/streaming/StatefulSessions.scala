package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming sessionization: the KeyValueGroupedDataset
  * `flatMapGroupsWithState` form of B5, for session semantics the
  * built-in `session_window` can't express (e.g. emitting per-session
  * aggregates only on close, carrying arbitrary state across
  * micro-batches).
  *
  * State machine per user: an open session (start, last, count). Each
  * micro-batch folds its (sorted) events in, closing a session whenever
  * the in-batch gap exceeds the threshold; the open tail is kept in state
  * with an event-time timeout of `gap` past the last event — when the
  * watermark passes that, the timed-out callback emits the final session.
  * Exactly the reference's block-barrier pattern (accumulate → flush on
  * boundary) lifted to event time.
  */
object StatefulSessions {

  case class Ev(user_id: Long, ts: java.sql.Timestamp)
  // state in MICROSECONDS: the engine's event time is µs-precision
  // (events.ts normalizes ns-parquet to µs), and ms arithmetic would
  // both misjudge gaps within 1 ms of the threshold and truncate the
  // emitted session bounds — a silent divergence from the batch
  // session_window form (and its oracle), which computes in full µs
  case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  case class Session(user_id: Long, sess_start: java.sql.Timestamp,
                     sess_end: java.sql.Timestamp, n_events: Long)

  /** Exact µs of a Timestamp (getTime alone drops the sub-ms part). */
  private[streaming] def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** µs back to a Timestamp, sub-ms intact. */
  private[streaming] def tsOfMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionize(events: Dataset[Ev], gapMs: Long,
                 watermark: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(processGroup(gapMs * 1000L))
  }

  private def toSession(uid: Long, s: OpenSession, gapUs: Long): Session =
    Session(uid, tsOfMicros(s.startUs), tsOfMicros(s.lastUs + gapUs), s.n)

  private def processGroup(gapUs: Long)(
      uid: Long, evs: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val closed = state.getOption.map(toSession(uid, _, gapUs))
      state.remove()
      closed.iterator
    } else {
      // Build this batch's sessions from its sorted events (gap splits),
      // then interval-merge with the carried open session — so a late
      // event landing before or inside the open session extends it with
      // the CORRECT start time instead of being swallowed. Only the
      // latest session stays open in state; earlier ones close now (an
      // event above the watermark but older than an already-emitted
      // session is the one case single-open-session state cannot repair).
      val times = evs.map(e => micros(e.ts)).toArray.sorted
      val batchSessions = Vector.newBuilder[OpenSession]
      var cur: Option[OpenSession] = None
      times.foreach { t =>
        cur match {
          case Some(s) if t - s.lastUs < gapUs =>
            cur = Some(s.copy(lastUs = t, n = s.n + 1))
          case Some(s) =>
            batchSessions += s
            cur = Some(OpenSession(t, t, 1))
          case None =>
            cur = Some(OpenSession(t, t, 1))
        }
      }
      val pieces = (batchSessions.result() ++ cur.toVector ++
        state.getOption.toVector).sortBy(s => (s.startUs, s.lastUs))
      val merged = pieces.foldLeft(Vector.empty[OpenSession]) { (acc, s) =>
        acc.lastOption match {
          case Some(p) if s.startUs - p.lastUs < gapUs =>
            acc.init :+ OpenSession(p.startUs,
              math.max(p.lastUs, s.lastUs), p.n + s.n)
          case _ => acc :+ s
        }
      }
      val closed = merged.dropRight(1).map(toSession(uid, _, gapUs))
      merged.lastOption.foreach { s =>
        state.update(s)
        // timeout API is ms: round UP so the state never flushes before
        // its true µs close instant (the emitted values depend only on
        // the stored µs state, so the ceiling affects WHEN, not WHAT)
        state.setTimeoutTimestamp(
          Math.floorDiv(s.lastUs + gapUs + 999L, 1000L))
      }
      closed.iterator
    }
  }

  /** END-TO-END stateful-streaming parity replay (round 12) — the
    * flatMapGroupsWithState path under the driver's full oracle, the
    * [[graft.streaming.StreamingWindows.tumblingParityReplay]] doctrine
    * applied to CUSTOM state: the batch events relation replayed as a
    * multi-micro-batch file stream through [[sessionize]], with the one
    * extra piece append-mode custom state needs — an END-OF-STREAM
    * FLUSH. Sessions close only when the watermark passes their
    * timeout, and the watermark only advances on data, so a finite
    * replay would end with every trailing session stuck open. The
    * standard replay fix: two far-future sentinel events for a
    * reserved user (id −1), in two separate LAST files — the first
    * advances the watermark past every real timeout when its batch
    * COMMITS, the second triggers the batch in which those timeouts
    * actually fire. The sentinel user's own session never closes, so
    * it never reaches the output (belt-and-braces filtered anyway).
    *
    * File arrival order is the staged file order ([[Replay]]): real
    * data in time-range order, then flush A, then flush B.
    *
    * Output: (user_id, sess_start, sess_end, n_events) ordered — the
    * batch `event_sessionize` contract, hash-compared against ITS
    * oracle. */
  def sessionizeParityReplay(events: org.apache.spark.sql.DataFrame,
                             srcDir: String, outDir: String,
                             checkpointDir: String, nFiles: Int = 8,
                             gapMs: Long = 30L * 60L * 1000L,
                             watermark: String = "10 minutes")
      : org.apache.spark.sql.DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col("user_id"), col("ts"))
    // empty corpus: no flush instant exists and no session can ever
    // close — the replay's answer is the empty session table
    val maxTs = Option(ev.agg(max(col("ts"))).head().getTimestamp(0))
    // flush instants: beyond every real timeout (max ts + gap) plus the
    // watermark delay (wm bounds how far the watermark trails max event
    // time) plus a day of margin; `zz_` names sort after the data parts
    val dayUs = 86400L * 1000000L
    def writeFlush(tag: String, us: Long): Unit = {
      val tmp = s"$srcDir/../flush_$tag"
      Seq((-1L, tsOfMicros(us))).toDF("user_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, s"zz_flush_$tag.parquet"))
      ()
    }
    // time-ranged parts in range order, then flush A, then flush B: an
    // out-of-order range would put earlier events late behind the
    // advanced watermark, and append-mode stateful processing DROPS
    // late rows (the complete-mode tumbling replay is immune; this one
    // is not)
    val staged = Replay.stageFiles(spark, srcDir, ev.schema, "parquet",
      nFiles) {
      ev.repartitionByRange(nFiles, col("ts"))
        .write.mode("overwrite").parquet(srcDir)
      maxTs.foreach { t =>
        val base = micros(t) + gapMs * 1000L + dayUs
        writeFlush("a", base)
        writeFlush("b", base + dayUs)
      }
    }
    val sessions = sessionize(staged.stream.as[Ev], gapMs, watermark)
      .filter(col("user_id") >= 0L).toDF()
    Replay.drainEach(sessions, checkpointDir, "append") { (b, _) =>
      b.write.mode("append").parquet(outDir)
    }
    Replay.readBack(spark, outDir, sessions.schema)
      .select(col("user_id"), col("sess_start"), col("sess_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("sess_start"))
  }
}
