package graft

import graft.sources.TextSources
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Drives the streaming JSON-lines quarantine gate through a real
  * append-mode query: good lines land typed, both malformed shapes
  * (field-level and non-object) quarantine with the raw line intact,
  * and the foreachBatch summary matches the batch sources' contract. */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private val good = Seq(
    """{"event_id": 1, "user_id": 10, "event_type": "click", "value": 1.25}""",
    """{"event_id": 2, "user_id": 11, "event_type": "view", "value": 2.50}""",
    """{"event_id": 3, "user_id": 10, "event_type": "click", "value": 0.25}""")

  test("append-mode gate: typed lane for good lines, quarantine lane " +
    "carries the raw line for every malformed shape, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = StreamingIngest.parseJsonLines(mem.toDF().toDF("line"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ingest_gate").start()
    try {
      mem.addData(good.head, TextSources.MalformedJsonl.head)
      q.processAllAvailable()
      // a later batch: remaining good lines + the other two bad shapes
      mem.addData(good.tail ++ TextSources.MalformedJsonl.tail: _*)
      q.processAllAvailable()
      val t = spark.table("ingest_gate").cache()
      val bad = t.filter(col("lane") === StreamingIngest.Quarantine)
      assert(bad.count() == TextSources.MalformedJsonl.length)
      // the raw line survives verbatim on the quarantine lane
      assert(bad.select("raw").as[String].collect().toSet ==
        TextSources.MalformedJsonl.toSet)
      val ok = t.filter(col("lane") === StreamingIngest.Ok)
      assert(ok.count() == good.length)
      assert(ok.select("event_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // typed fidelity straight off the stream
      assert(ok.agg(sum(col("value").cast("decimal(12,2)")))
        .head.getDecimal(0).doubleValue() == 4.0)
    } finally { q.stop(); spark.catalog.clearCache() }
  }

  test("summarizeBatch mirrors the batch sources' fidelity contract: " +
    "one marker row counting quarantined lines, exact per-type sums") {
    val batch = StreamingIngest.parseJsonLines(
      (good ++ TextSources.MalformedJsonl).toDF("line"))
    val s = StreamingIngest.summarizeBatch(batch).collect()
    val marker = s.filter(_.getString(0) == TextSources.Quarantined)
    assert(marker.length == 1 &&
      marker.head.getLong(1) == TextSources.MalformedJsonl.length)
    val click = s.filter(_.getString(0) == "click").head
    assert(click.getLong(1) == 2 && click.getDouble(2) == 1.5 &&
      click.getLong(3) == 1L && click.getLong(4) == 3L)
    val view = s.filter(_.getString(0) == "view").head
    assert(view.getLong(1) == 1 && view.getDouble(2) == 2.5)
  }

  test("ingest parity replay: streaming parser over the wire equals " +
    "the batch round-trip summary, multi-batch") {
    val base = Scratch.dir("graft_ingest_parity_").toString
    try {
      val events = Tables.events(spark, sf0)
      val out = StreamingIngest.ingestParityReplay(
        events, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = TextSources.jsonlQuarantineRoundTrip(spark, events)
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "streaming ingest summary diverged from the batch round-trip")
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }
}
