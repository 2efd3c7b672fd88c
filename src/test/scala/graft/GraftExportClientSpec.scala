package graft

import org.apache.spark.sql.functions.col

/** End-to-end facade coverage: the exact call sequence a reference user
  * makes after switching (configure → export), including config errors. */
class GraftExportClientSpec extends SparkSpec {
  import spark.implicits._

  test("configure → exportBatch writes the partitioned table layout") {
    val cfg = GraftExportClient.configure(Map(
      "hive.uri" -> "thrift://meta:9083",
      "hive.db" -> "default",
      "hive.table" -> "alerts",
      "hive.partition.columns" -> "alerts:continent"))
    val alerts = Seq((1L, "fab-02 inoperable", "EU"), (2L, "ok", null: String))
      .toDF("id", "msg", "continent")
    val out = Scratch.dir("graft_client_").toString
    GraftExportClient.exportBatch(alerts, "ALERTS", cfg, out)
    val back = spark.read.parquet(s"$out/alerts")
    assert(back.count() == 2)
    assert(back.filter(col("continent") === "__VoltDB_unspecified__").count() == 1)
    assert(back.filter(col("continent") === "EU")
      .select("payload_json").as[String].head() ==
      """{"id":1,"msg":"fab-02 inoperable"}""")
  }

  test("exportBatch then compactTable: fewer files, identical content") {
    val cfg = GraftExportClient.configure(Map(
      "hive.uri" -> "thrift://meta:9083",
      "hive.db" -> "default",
      "hive.table" -> "alerts",
      "hive.partition.columns" -> "alerts:continent"))
    val alerts = (1L to 200L)
      .map(i => (i, s"msg$i", if (i % 2 == 0) "EU" else "AS"))
      .toDF("id", "msg", "continent")
      .repartition(25)
    val out = Scratch.dir("graft_client_frag_").toString
    // fragment deliberately: exportBatch itself anti-fragments (it
    // repartitions by the partition cols), so simulate a long-lived
    // sink's accretion with a raw many-task write of the same routing
    graft.operators.ExportPipeline.writeRouted(
      graft.operators.ExportPipeline.route(alerts, Seq("continent")),
      s"$out/alerts", repartitionFirst = false)
    val compacted = Scratch.dir("graft_client_cpt_").toString
    val (rows, inFiles, _) =
      GraftExportClient.compactTable(spark, "ALERTS", cfg, out, compacted)
    assert(rows == 200L)
    val back = spark.read.parquet(s"$compacted/alerts")
    assert(back.count() == 200L)
    assert(back.inputFiles.length < inFiles,
      s"${back.inputFiles.length} files after vs $inFiles before")
  }

  test("configure rejects bad URIs, missing table, arity mismatches and unlisted tables") {
    intercept[IllegalArgumentException] {
      GraftExportClient.configure(Map("hive.uri" -> "http://x:1"))
    }
    // hive.db and hive.table are both mandatory (ref README.md:104-108);
    // absent and blank each fail like the reference's endpoint-factory
    // preconditions (HiveEndPointFactory.java:47-54)
    intercept[IllegalArgumentException] {
      GraftExportClient.configure(Map.empty)
    }
    intercept[IllegalArgumentException] {
      GraftExportClient.configure(Map("hive.table" -> "t"))  // db absent
    }
    intercept[IllegalArgumentException] {
      GraftExportClient.configure(Map("hive.db" -> " ", "hive.table" -> "t"))
    }
    intercept[IllegalArgumentException] {
      GraftExportClient.configure(Map("hive.db" -> "d", "hive.table" -> "  "))
    }
    intercept[IllegalArgumentException] {
      GraftExportClient.configure(Map(
        "hive.db" -> "d", "hive.table" -> "a",
        "hive.partition.columns" -> "a:x,b:x|y"))
    }
    val cfg = GraftExportClient.configure(Map(
      "hive.db" -> "default", "hive.table" -> "alerts",
      "hive.partition.columns" -> "alerts:continent"))
    intercept[IllegalArgumentException] {
      GraftExportClient.exportBatch(
        Seq((1L, "m")).toDF("id", "msg"), "unlisted", cfg, "/tmp/never")
    }
  }
}
