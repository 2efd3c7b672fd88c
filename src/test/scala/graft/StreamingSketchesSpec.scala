package graft

import graft.operators.Sketches
import graft.streaming.StreamingSketches
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

object StreamingSketchesSpec {
  case class Ev(event_type: String, user_id: Long)
}

/** The streaming KMV sketch must agree with the BATCH theta sketch on
  * any stream prefix — the hash-determinism equivalence the module
  * documents — and its state must stay bounded at k hashes per group
  * no matter how many distinct members arrive. */
class StreamingSketchesSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSketchesSpec.Ev

  test("streaming KMV equals the batch theta sketch after every " +
    "micro-batch, across arbitrary batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingSketches.kmvPerType(mem.toDF(), k = 8)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("kmv_stream").start()
    try {
      val batch1 = (1L to 12L).map(u => Ev("click", u)) :+ Ev("view", 1L)
      val batch2 = (7L to 20L).map(u => Ev("click", u)) :+ Ev("view", 2L)
      def latestPerScope() = spark.table("kmv_stream")
        .groupBy(col("scope"))
        .agg(org.apache.spark.sql.functions.last(col("n_retained")).as("nr"),
          org.apache.spark.sql.functions.last(col("kth_hash")).as("kh"),
          org.apache.spark.sql.functions.last(col("est")).as("est"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      def batchRef(rows: Seq[Ev]) = Sketches
        .thetaSketch(rows.toDF("event_type", "user_id"), k = 8)
        .collect()
        .filter(r => r.getString(0) != "click_x_purchase")
        .map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(latestPerScope() == batchRef(batch1),
        "prefix 1: stream diverged from the batch sketch")

      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = latestPerScope()
      assert(streamed == batchRef(batch1 ++ batch2),
        "prefix 2: stream diverged from the batch sketch")
      // bounded state: 20 distinct click users, but k = 8 retained
      assert(streamed("click")._1 == 8L)
      // underfull group stays exact
      assert(streamed("view") == ((2L, streamed("view")._2, 2.0)))
    } finally q.stop()
  }

  test("hash48 matches the SQL md5 prefix the batch operator uses") {
    val viaSql = spark.sql(
      "SELECT CAST(conv(substring(md5('12345'), 1, 12), 16, 10) AS LONG)")
      .collect().head.getLong(0)
    assert(StreamingSketches.hash48("12345") == viaSql)
  }

  test("kmv parity replay: final per-scope state equals the batch " +
    "bottom-k, multi-batch") {
    val base = Scratch.dir("graft_kmv_parity_").toString
    try {
      val events = Tables.events(spark, sf0)
      val out = StreamingSketches.kmvParityReplay(
        events, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      // independent driver-side bottom-k replay per type
      val direct = events.select(col("event_type"), col("user_id"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .distinct
        .groupBy(_._1)
        .map { case (t, rows) =>
          val hs = rows.map(r => StreamingSketches.hash48(r._2.toString))
            .distinct.sorted.take(64).toList
          (t, hs.size.toLong, hs.last, StreamingSketches.estimate(64, hs))
        }.toSeq.sortBy(_._1)
      val got = out.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == direct, s"replay $got\nvs direct $direct")
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }
}
