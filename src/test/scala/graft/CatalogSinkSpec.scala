package graft

import graft.config.ExportConfig
import graft.operators.ExportPipeline
import org.apache.spark.sql.functions._

/** Catalog-table + ORC sink coverage — the reference's actual sink
  * contract (metastore table, ORC storage; reference README.md:77,
  * hive/HiveEndPointFactory.java:65-68): golden physical layout, lossless
  * read-back through the catalog, and append-generation semantics. */
class CatalogSinkSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = ExportConfig(
    db = "graft_test", table = "alerts",
    partitionColumns = Map("ALERTS" -> Seq("CONTINENT")))

  private def alerts(ids: Range) = ids
    .map(i => (i.toLong, s"msg$i", if (i % 2 == 0) "EU" else null))
    .toDF("id", "msg", "continent")

  test("exportCatalogTable: ORC files, hive partition dirs, catalog read-back") {
    ExportPipeline.dropTableAndLocation(spark, "graft_test", "alerts")
    val ident = ExportPipeline.exportCatalogTable(alerts(1 to 10), "alerts", cfg)
    assert(ident == "graft_test.alerts")
    assert(spark.catalog.tableExists(ident))

    val back = spark.table(ident)
    assert(back.count() == 10)
    // partition column survives as a real table partition, sentinel-named
    val parts = spark.sql("SHOW PARTITIONS graft_test.alerts")
      .as[String].collect().toSet
    assert(parts == Set("continent=EU", "continent=__VoltDB_unspecified__"))
    // golden physical layout: every data file is ORC inside a
    // continent=<value> directory
    val files = back.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("/continent=") && f.endsWith(".orc")),
      files.mkString("\n"))
    // payload round-trips losslessly through ORC
    assert(back.filter($"continent" === "EU")
      .select("payload_json").as[String].collect().sorted.head ==
      """{"id":10,"msg":"msg10"}""")
  }

  test("second export appends a new generation into the same table") {
    ExportPipeline.dropTableAndLocation(spark, "graft_test", "alerts")
    ExportPipeline.exportCatalogTable(alerts(1 to 10), "alerts", cfg)
    ExportPipeline.exportCatalogTable(alerts(11 to 14), "alerts", cfg)
    val back = spark.table("graft_test.alerts")
    assert(back.count() == 14)
    // both generations visible per partition
    val perPart = back.groupBy("continent").count()
      .as[(String, Long)].collect().toMap
    assert(perPart("EU") == 7)
    assert(perPart(graft.operators.ExportOps.Sentinel) == 7)
  }

  test("streaming catalog export: ORC metastore appends, replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val sCfg = ExportConfig(
      db = "graft_test", table = "stream_orc",
      partitionColumns = Map("STREAM_ORC" -> Seq("CONTINENT")))
    ExportPipeline.dropTableAndLocation(spark, "graft_test", "stream_orc")
    val ckpt = Scratch.dir("graft_cat_ckpt_").toString
    val mem = MemoryStream[(Long, String, String)]
    mem.addData((1L, "a", "EU"), (2L, "b", null.asInstanceOf[String]))
    val q = GraftExportClient.exportStreamCatalog(
      mem.toDF().toDF("id", "msg", "continent"), "stream_orc", sCfg, ckpt)
    q.processAllAvailable(); q.stop()
    assert(spark.table("graft_test.stream_orc").count() == 2)

    // restart from the checkpoint with more data → next batch appends
    mem.addData((3L, "c", "EU"))
    val q2 = GraftExportClient.exportStreamCatalog(
      mem.toDF().toDF("id", "msg", "continent"), "stream_orc", sCfg, ckpt)
    q2.processAllAvailable(); q2.stop()
    val t = spark.table("graft_test.stream_orc")
    assert(t.count() == 3)
    // batch_id is a real partition; files are ORC in hive-layout dirs
    assert(t.inputFiles.forall(f =>
      f.contains("/continent=") && f.contains("/batch_id=") &&
        f.endsWith(".orc")))

    // replaying batch 0 (same routed rows, same id) overwrites its own
    // partitions instead of appending — exactly-once under replay
    val routed = ExportPipeline.route(
      Seq((1L, "a", "EU"), (2L, "b", null.asInstanceOf[String]))
        .toDF("id", "msg", "continent"), Seq("continent"))
    graft.streaming.StreamingExport
      .writeBatchCatalog(routed, "graft_test", "stream_orc", 0L)
    assert(spark.table("graft_test.stream_orc").count() == 3)
  }

  test("expirePartitions: batch_id watermark drops old subtrees, files included") {
    import graft.streaming.StreamingExport
    ExportPipeline.dropTableAndLocation(spark, "graft_test", "retain_orc")
    (0L to 3L).foreach { b =>
      val routed = ExportPipeline.route(
        Seq((b * 10 + 1, s"m$b", if (b % 2 == 0) "EU" else null))
          .toDF("id", "msg", "continent"), Seq("continent"))
      StreamingExport.writeBatchCatalog(routed, "graft_test", "retain_orc", b)
    }
    val t = "graft_test.retain_orc"
    assert(spark.table(t).count() == 4)
    val dropped = ExportPipeline
      .expirePartitions(spark, "graft_test", "retain_orc", "batch_id", 2L)
    assert(dropped == 2)
    // catalog agrees: only batch_id >= 2 partitions remain
    val parts = spark.sql(s"SHOW PARTITIONS $t").as[String].collect()
    assert(parts.nonEmpty && parts.forall { p =>
      p.split("/").exists(kv => kv == "batch_id=2" || kv == "batch_id=3") })
    // data and FILES agree (managed table: dropping deletes storage)
    assert(spark.table(t).count() == 2)
    assert(spark.table(t).inputFiles.forall(f =>
      f.contains("/batch_id=2/") || f.contains("/batch_id=3/")))
    // idempotent below the same watermark
    assert(ExportPipeline
      .expirePartitions(spark, "graft_test", "retain_orc", "batch_id", 2L) == 0)
    // a non-numeric key column (string values, __HIVE_DEFAULT_PARTITION__
    // for nulls) is skipped spec-by-spec, never a NumberFormatException
    // that aborts the sweep
    assert(ExportPipeline
      .expirePartitions(spark, "graft_test", "retain_orc", "continent", 99L) == 0)
    assert(spark.table(t).count() == 2)
  }

  test("path-based ORC write + ORC compaction round-trip") {
    val rows = (1L to 200L)
      .map(i => (i, s"msg$i", if (i % 2 == 0) "EU" else "AS"))
      .toDF("id", "msg", "continent").repartition(25)
    val out = Scratch.dir("graft_orc_path_").toString
    // fragment deliberately (repartitionFirst=false → many files), ORC
    ExportPipeline.writeRouted(
      ExportPipeline.route(rows, Seq("continent")), out,
      format = "orc", repartitionFirst = false)
    val back = spark.read.orc(out)
    assert(back.count() == 200)
    assert(back.inputFiles.forall(_.endsWith(".orc")))
    // ORC→ORC compaction: fewer files, identical content
    val compacted = Scratch.dir("graft_orc_cpt_").toString
    val (n, inFiles, _) = ExportPipeline.compact(
      spark, out, compacted, Seq("continent"), format = "orc")
    assert(n == 200)
    val after = spark.read.orc(compacted)
    assert(after.count() == 200)
    assert(after.inputFiles.length < inFiles)
    assert(after.select("payload_json", "continent").collect().toSet ==
      back.select("payload_json", "continent").collect().toSet)
  }

  test("catalogOrcRoundTrip equals the path-based txn round-trip") {
    val events = Tables.events(spark, sf0)
    val viaCatalog = graft.operators.SinkOps
      .catalogOrcRoundTrip(spark, events).collect()
    val viaPath = graft.operators.SinkOps
      .txnBatchRoundTrip(spark, events).collect()
    assert(viaCatalog.toSeq == viaPath.toSeq)
  }
}
