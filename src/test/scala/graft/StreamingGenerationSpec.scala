package graft

import graft.streaming.StreamingExport
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Schema-generation lifecycle for the streaming export (the reference's
  * new-source-generation / decoder-teardown behavior,
  * hive/HiveExportClient.java:199-214): a schema change lands as a new
  * generation — old query torn down, new query bound to the new schema —
  * with both generations' committed output readable afterwards. */
class StreamingGenerationSpec extends SparkSpec {
  import spark.implicits._

  test("schema change mid-stream: old generation torn down, both outputs readable") {
    implicit val sqlCtx = spark.sqlContext
    val out = Scratch.dir("graft_gen_out_").toString
    val ckpt = Scratch.dir("graft_gen_ckpt_").toString
    val exporter = new StreamingExport.GenerationedExport(
      Seq("continent"), out, ckpt)

    // generation 1: (id, continent, msg)
    val gen1 = MemoryStream[(Long, String, String)]
    gen1.addData((1L, "EU", "hello"), (2L, "AS", "hi"))
    val q1 = exporter.advertise(
      gen1.toDF().toDF("id", "continent", "msg"), gen = 1)
    q1.processAllAvailable()
    assert(exporter.currentGeneration.contains(1))

    // schema change: msg removed, note + score added → NEW generation;
    // advertising it tears the old decoder down
    val gen2 = MemoryStream[(Long, String, String, Long)]
    gen2.addData((3L, "EU", "n3", 30L), (4L, "AF", "n4", 40L))
    val q2 = exporter.advertise(
      gen2.toDF().toDF("id", "continent", "note", "score"), gen = 2)
    q2.processAllAvailable()
    assert(!q1.isActive, "old generation's query must be torn down")
    assert(exporter.currentGeneration.contains(2))

    // generations must not advance backwards (a re-advertised old source
    // is a config error, like the reference's stale advertisement)
    intercept[IllegalArgumentException] {
      exporter.advertise(gen1.toDF().toDF("id", "continent", "msg"), gen = 1)
    }
    exporter.close()

    // each generation's payload carries ITS schema's fields
    val g1 = spark.read.parquet(s"$out/gen=1/batch_id=0")
      .select("payload_json").as[String].collect().sorted
    assert(g1.head == """{"id":1,"msg":"hello"}""")
    val g2 = spark.read.parquet(s"$out/gen=2/batch_id=0")
      .select("payload_json").as[String].collect().sorted
    assert(g2.head == """{"id":3,"note":"n3","score":30}""")

    // committed output of both generations coexists and unions cleanly
    val all = spark.read.option("basePath", out)
      .parquet(s"$out/gen=*/batch_id=*")
    assert(all.count() == 4)
    assert(all.filter(col("gen") === 1).count() == 2)
    assert(all.filter(col("gen") === 2).count() == 2)
  }

  test("export parity replay: the streamed conduit lands every event " +
    "exactly once with the batch payload encoding, multi-batch") {
    val base = Scratch.dir("graft_export_parity_").toString
    try {
      val events = Tables.events(spark, sf0)
      val out = StreamingExport.exportParityReplay(
        events, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = graft.operators.SinkOps.txnBatchRoundTrip(spark, events)
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "streamed conduit summary diverged from the batch sink round-trip")
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }
}
