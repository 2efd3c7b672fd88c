package graft

import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import java.sql.Timestamp

/** Drives the flatMapGroupsWithState sessionizer through a real streaming
  * query: in-batch gap splits, cross-batch state carry, and event-time
  * timeout close via watermark advance. */
class StatefulSessionsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stateful sessionization: splits, carries state, closes on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StatefulSessions.sessionize(mem.toDS(), gapMs = 30 * 60 * 1000L,
      watermark = "1 minute")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()

    // batch 1: user 1 has two sessions' worth (2h apart), user 2 one event
    mem.addData(
      Ev(1L, ts("2024-01-01 00:00:00")), Ev(1L, ts("2024-01-01 00:10:00")),
      Ev(1L, ts("2024-01-01 02:00:00")),
      Ev(2L, ts("2024-01-01 00:05:00")))
    q.processAllAvailable()
    val afterB1 = spark.table("sessions").as[Session].collect()
    // the in-batch gap split closed user 1's first session immediately
    assert(afterB1.exists(s => s.user_id == 1L &&
      s.sess_start == ts("2024-01-01 00:00:00") &&
      s.sess_end == ts("2024-01-01 00:40:00") && s.n_events == 2))

    // batch 2: far-future event advances the watermark past all timeouts
    mem.addData(Ev(3L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    mem.addData(Ev(3L, ts("2024-01-03 00:00:00")))
    q.processAllAvailable()
    q.stop()

    val all = spark.table("sessions").as[Session].collect()
    // user 2's single-event session closed by timeout
    assert(all.exists(s => s.user_id == 2L && s.n_events == 1 &&
      s.sess_end == ts("2024-01-01 00:35:00")))
    // user 1's open tail (02:00) closed by timeout
    assert(all.exists(s => s.user_id == 1L && s.n_events == 1 &&
      s.sess_start == ts("2024-01-01 02:00:00")))
  }

  test("late event before the open session extends it with the correct start") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StatefulSessions.sessionize(mem.toDS(), gapMs = 30 * 60 * 1000L,
      watermark = "6 hours") // generous watermark so the late event survives
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()
    mem.addData(Ev(9L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    // batch 2: a late event 10 minutes BEFORE the carried open session
    mem.addData(Ev(9L, ts("2024-01-01 11:50:00")))
    q.processAllAvailable()
    // advance watermark far enough to close everything
    mem.addData(Ev(8L, ts("2024-01-02 12:00:00")))
    q.processAllAvailable()
    mem.addData(Ev(8L, ts("2024-01-03 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("late_sessions").as[Session].collect()
      .filter(_.user_id == 9L)
    assert(sessions.length == 1)
    // start must reflect the late 11:50 event, not the original 12:00
    assert(sessions.head.sess_start == ts("2024-01-01 11:50:00"))
    assert(sessions.head.n_events == 2)
    assert(sessions.head.sess_end == ts("2024-01-01 12:30:00"))
  }

  test("watermarked tumbling windows: append emits a window once, closed only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = graft.streaming.StreamingWindows.tumbling(
      mem.toDF().toDF("ts", "event_type", "value"), watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("tumbling_stream").start()
    try {
      // batch 1: all inside hour 0 — watermark hasn't passed 01:00,
      // so NOTHING is emitted yet (closed-window contract)
      mem.addData(
        (ts("2024-01-01 00:05:00"), "view", 1.5),
        (ts("2024-01-01 00:20:00"), "view", 2.5),
        (ts("2024-01-01 00:40:00"), "purchase", 10.0))
      q.processAllAvailable()
      assert(spark.table("tumbling_stream").count() == 0)

      // batch 2: an hour-3 event pushes the watermark past 01:00 —
      // hour-0 windows close and emit exactly once; hour 3 stays open
      mem.addData((ts("2024-01-01 03:00:00"), "view", 7.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_stream")
        .collect().map(r => (r.getAs[Timestamp]("win_start"),
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"))).toSet
      assert(rows == Set(
        (ts("2024-01-01 00:00:00"), "view", 2L, 4.0),
        (ts("2024-01-01 00:00:00"), "purchase", 1L, 10.0)),
        s"got $rows")
    } finally q.stop()
  }

  test("sessionize parity replay: flatMapGroupsWithState over a " +
    "multi-batch file replay equals the batch session_window, " +
    "including the end-of-stream flush of trailing sessions") {
    val base = Scratch.dir("graft_sess_parity_").toString
    try {
      val events = Tables.events(spark, sf0)
      val out = StatefulSessions.sessionizeParityReplay(
        events, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = graft.operators.Sessionize.sessions(events)
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "stateful streaming replay diverged from batch session_window")
      // multi-batch + flush structure: 4 data files + 2 flush batches
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 5, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }

  test("tumbling parity replay equals the batch aggregation AND really " +
    "ran as multiple micro-batches (cross-batch state, not one gulp)") {
    val base = Scratch.dir("graft_stream_parity_").toString
    try {
      val events = Tables.events(spark, sf0)
      val out = graft.streaming.StreamingWindows.tumblingParityReplay(
        events, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = graft.operators.Sessionize.tumbling(events)
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "streaming replay diverged from the batch aggregation")
      // the claim "state accumulates ACROSS batches" must be structural:
      // one committed offset per micro-batch
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }

  test("WAU parity replay equals the batch rolling WAU and committed " +
    "each (user, day) pair in exactly one micro-batch") {
    val base = Scratch.dir("graft_stream_wau_").toString
    try {
      val events = Tables.events(spark, sf0)
      val out = graft.streaming.StreamingWindows.wauParityReplay(
        events, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = graft.operators.Relational.rollingWau(events)
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "streaming WAU diverged from the batch aggregation")
      // exactly-once across batches: the committed pair log carries no
      // duplicate (day, user) even though users repeat across batches
      val pairs = spark.read.parquet(s"$base/out")
        .select(org.apache.spark.sql.functions.col("day"),
          org.apache.spark.sql.functions.col("user_id"))
      assert(pairs.count() == pairs.distinct().count(),
        "a (user, day) pair committed twice — dedup state missed")
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }

  test("OHLC parity replay equals the batch weekly resample, with " +
    "days genuinely assembled across micro-batches") {
    val base = Scratch.dir("graft_stream_ohlc_").toString
    try {
      val orders = Tables.orders(spark, sf0)
      val out = graft.streaming.StreamingWindows.ohlcParityReplay(
        orders, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = graft.operators.Relational.weeklyOhlc(orders)
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "streaming OHLC diverged from the batch resample")
      // the orderkey-ranged split really spreads a day over batches:
      // more days than any single batch could close alone is implied by
      // multi-batch commits + the exact parity above
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }

  test("watermarked hopping windows: overlapping windows each emit once, " +
    "closed only, with the width/slide overlap factor") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    // 1h windows every 30min: an event belongs to exactly 2 windows
    val out = graft.streaming.StreamingWindows.hopping(
      mem.toDF().toDF("ts", "event_type", "value"),
      width = "1 hour", slide = "30 minutes", watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hopping_stream").start()
    try {
      // watermark after this batch = 00:40 - 10min = 00:30, which closes
      // EXACTLY the earliest hop [23:30,00:30) — per-window emission, not
      // per-hour: the overlapping [00:00,01:00) stays open
      mem.addData(
        (ts("2024-01-01 00:05:00"), "view", 1.0),
        (ts("2024-01-01 00:40:00"), "view", 2.0))
      q.processAllAvailable()
      val early = spark.table("hopping_stream")
        .collect().map(r => (r.getAs[Timestamp]("win_start"),
          r.getAs[Long]("n_events"))).toSet
      assert(early == Set((ts("2023-12-31 23:30:00"), 1L)), s"got $early")

      // hour-3 event: watermark 02:50 closes every window ending <= it
      mem.addData((ts("2024-01-01 03:00:00"), "view", 7.0))
      q.processAllAvailable()
      val rows = spark.table("hopping_stream")
        .collect().map(r => (r.getAs[Timestamp]("win_start"),
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"))).toSet
      // 00:05 → [23:30,00:30) and [00:00,01:00); 00:40 → [00:00,01:00)
      // and [00:30,01:30): each event in exactly 2 windows, each window
      // emitted exactly once with its full content
      assert(rows == Set(
        (ts("2023-12-31 23:30:00"), "view", 1L, 1.0),
        (ts("2024-01-01 00:00:00"), "view", 2L, 3.0),
        (ts("2024-01-01 00:30:00"), "view", 1L, 2.0)),
        s"got $rows")
    } finally q.stop()
  }

  test("stream-stream interval join: matches within the window, " +
    "respects the bounds, state evicts behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    // buys attribute to a click on the same user within [0, 30 min]
    val out = graft.streaming.StreamingJoin.interval(
      clicks.toDF().toDF("user_id", "ts"),
      buys.toDF().toDF("user_id", "ts"),
      "user_id", lowerSec = 0L, upperSec = 1800L, watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("interval_join").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 10:00:00")))
      buys.addData(
        (1L, ts("2024-01-01 10:20:00")),  // in window → match
        (2L, ts("2024-01-01 10:45:00")),  // past upper bound → no match
        (3L, ts("2024-01-01 10:05:00")))  // no click at all → no match
      q.processAllAvailable()
      val rows = spark.table("interval_join")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("l_ts"), r.getAs[Timestamp]("r_ts"))).toSet
      assert(rows == Set(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"))),
        s"got $rows")
      // advance both watermarks far past the window; user 1's click
      // (10:00) is then provably unmatchable and evicted — a "late"
      // in-window buy for it must NOT match anymore
      clicks.addData((9L, ts("2024-01-01 15:00:00")))
      buys.addData((9L, ts("2024-01-01 15:00:01")))
      q.processAllAvailable()
      buys.addData((1L, ts("2024-01-01 10:25:00"))) // late beyond watermark
      q.processAllAvailable()
      val after = spark.table("interval_join").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("r_ts"))).toSet
      assert(after == Set(
        (1L, ts("2024-01-01 10:20:00")),
        (9L, ts("2024-01-01 15:00:01"))), s"got $after")
    } finally q.stop()
  }

  test("stream-static enrichment: stateless broadcast join per micro-batch, " +
    "left keeps unmatched stream rows") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingEnrich.enrich(
      mem.toDF().toDF("user_id", "action"), dim, "user_id", how = "left")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_stream").start()
    try {
      mem.addData((1L, "click"), (2L, "view"), (99L, "ghost"))
      q.processAllAvailable()
      val rows = spark.table("enrich_stream").collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)))).toSet
      // stateless: all three rows emit in the SAME micro-batch they
      // arrive in (no watermark, no state) — unmatched keeps null tier
      assert(rows == Set(
        (1L, "click", Some("gold")),
        (2L, "view", Some("silver")),
        (99L, "ghost", None)), s"got $rows")
    } finally q.stop()
  }

  test("interval join parity replay: cross-batch two-sided state, " +
    "equals the batch inequality join") {
    val base = Scratch.dir("graft_join_parity_").toString
    try {
      // clicks land in the earliest range files, purchases in the
      // latest: every match REQUIRES the join state to carry the click
      // across batches
      val mk = (id: Long, u: Long, t: String, off: Long) =>
        (id, new java.sql.Timestamp(
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + off),
          u, t)
      val ev = Seq(
        mk(1L, 1L, "click", 0L), mk(2L, 2L, "click", 60000L),
        mk(3L, 3L, "view", 120000L), mk(4L, 3L, "view", 1200000L),
        mk(5L, 1L, "purchase", 1800000L),   // 30 min after click 1
        mk(6L, 2L, "purchase", 7200000L))   // 2 h after click 2: no match
        .toDF("event_id", "ts", "user_id", "event_type")
      val out = graft.streaming.StreamingJoin.intervalParityReplay(
        ev, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(2),
        r.getLong(4)))
      assert(got.toSeq == Seq((1L, 1L, 5L)),
        s"expected the single in-window cross-batch match, got ${got.toSeq}")
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
      // corpus-scale equivalence vs the direct inequality join
      val events = Tables.events(spark, sf0)
      val rep = graft.streaming.StreamingJoin.intervalParityReplay(
        events, s"$base/src2", s"$base/out2", s"$base/ckpt2", nFiles = 4)
      val l = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("l_ts"),
          col("event_id").as("l_event_id"))
      val r = events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("ts").as("r_ts"),
          col("event_id").as("r_event_id"))
      val batch = l.join(r, col("user_id") === col("u2") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 3600 SECOND"))
        .select(col("user_id"), col("l_ts"), col("l_event_id"),
          col("r_ts"), col("r_event_id"))
        .orderBy(col("user_id"), col("l_event_id"), col("r_event_id"))
      assert(rep.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "stream-stream replay diverged from the batch inequality join")
    } finally Scratch.rm(new java.io.File(base))
  }

  test("enrich parity replay equals the batch enrichment AND really " +
    "ran as multiple micro-batches") {
    val base = Scratch.dir("graft_enrich_parity_").toString
    try {
      val out = graft.streaming.StreamingEnrich.enrichParityReplay(
        Tables.orders(spark, sf0), Tables.customer(spark, sf0),
        Tables.nation(spark, sf0), Tables.region(spark, sf0),
        s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = graft.operators.Relational.enrichOrders(
        Tables.orders(spark, sf0), Tables.customer(spark, sf0),
        Tables.nation(spark, sf0), Tables.region(spark, sf0))
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "stream-static replay diverged from the batch enrichment")
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }
}
