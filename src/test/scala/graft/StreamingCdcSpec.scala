package graft

import graft.streaming.StreamingCdc
import org.apache.spark.sql.functions._

class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._

  test("cdcParityReplay: the streamed latest-wins state equals the " +
    "batch fold — updates win, inserts land, untouched keys survive") {
    val base = Scratch.dir("graft_cdc_spec_").toString
    // keys: 7 (updated), 97 (updated? 97%7 != 0 — inserted twin),
    // 5 (untouched), 14 (updated)
    val orders = Seq((5L, 10L, 1.00), (7L, 20L, 2.00), (14L, 30L, 3.00),
        (97L, 40L, 4.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = StreamingCdc.cdcParityReplay(orders, s"$base/src",
      s"$base/out", s"$base/ckpt", nFiles = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.size == 5, out)
    assert(out(5L) == ((1L, 10L, 100L)))       // untouched, v1
    assert(out(7L) == ((2L, 20L, 10200L)))     // updated: +100.00 at v2
    assert(out(14L) == ((2L, 30L, 10300L)))    // updated
    assert(out(97L) == ((1L, 40L, 400L)))      // base row stays v1
    assert(out(1000000097L) == ((1L, 40L, 400L))) // insert under +1e9
  }

  test("latestWins state is order-insensitive: v2 arriving before v1 " +
    "keeps v2 (max-merge, not last-write-wins)") {
    // one micro-batch containing BOTH versions out of order: the fold
    // must pick version 2 regardless of iterator order
    val changes = Seq((1L, 2L, 10L, 999L), (1L, 1L, 10L, 111L))
      .toDF("o_orderkey", "version", "o_custkey", "price_cents")
    val base = Scratch.dir("graft_cdc_spec2_")
      .toString
    changes.write.mode("overwrite").parquet(s"$base/src")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$base/src").schema)
      .parquet(s"$base/src")
    val q = StreamingCdc.latestWins(stream).toDF().writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$base/out/batch_id=$id"); ()
      }.start()
    q.awaitTermination()
    val r = spark.read.parquet(s"$base/out").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("version") == 2L &&
      r.head.getAs[Long]("price_cents") == 999L, r.head)
  }
}
