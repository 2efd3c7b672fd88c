package graft.examples

import graft.operators.ExportPipeline
import graft.streaming.StreamingExport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end usage example: the export conduit driven as a real
  * Structured Streaming job over the events parquet (file stream source →
  * route → checkpointed partitioned micro-batch sink), plus the
  * batch-write path with awkward partition values.
  *
  * Run: sbt "runMain graft.examples.ExportDemo /root/testdata/sf0.001"
  */
object ExportDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSpark.session(cpus = "4")

    // --- streaming: file source → routed, checkpointed partitioned sink
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // FileStreamSource wants a directory; select just the events table
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val out = graft.Scratch.dir("graft_demo_out_").toString
    val ckpt = graft.Scratch.dir("graft_demo_ckpt_").toString
    // the reference user's call sequence: configure properties → export
    val cfg = graft.GraftExportClient.configure(Map(
      "hive.uri" -> "thrift://meta:9083",
      "hive.db" -> "default",
      "hive.table" -> "events",
      "hive.partition.columns" -> "events:event_type"))
    val q = graft.GraftExportClient.exportStream(stream, "EVENTS", cfg, out, ckpt)
    q.awaitTermination()
    val written = spark.read.option("basePath", s"$out/events")
      .parquet(s"$out/events/batch_id=*")
    println(s"[demo] streaming export wrote ${written.count()} rows")
    written.groupBy("event_type").count().orderBy("event_type").show(false)

    // --- batch: sentinel handling for null/blank/tab partition values
    import spark.implicits._
    val odd = Seq((1L, "EU"), (2L, null.asInstanceOf[String]), (3L, "\t"),
      (4L, " \n "), (5L, "")).toDF("id", "region")
    val oddOut = graft.Scratch.dir("graft_demo_odd_").toString
    ExportPipeline.writeRouted(ExportPipeline.route(odd, Seq("region")), oddOut)
    val dirs = new java.io.File(oddOut).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    println(s"[demo] partition dirs: ${dirs.mkString(", ")}")

    // --- catalog: the reference's real sink — a partitioned ORC
    // metastore table the user queries as db.table afterwards
    ExportPipeline.dropTableAndLocation(spark, "default", "events_demo")
    val events = spark.read.option("pathGlobFilter", "events.parquet")
      .schema(schema).parquet(sfDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val catCfg = graft.GraftExportClient.configure(Map(
      "hive.uri" -> "thrift://meta:9083",
      "hive.db" -> "default",
      "hive.table" -> "events_demo",
      "hive.partition.columns" -> "events_demo:event_type"))
    val ident = graft.GraftExportClient.exportCatalog(events, "events_demo", catCfg)
    println(s"[demo] catalog export → $ident (ORC), " +
      s"${spark.table(ident).count()} rows, partitions:")
    spark.sql(s"SHOW PARTITIONS $ident").show(false)

    // --- corpus prep: the training-data pipeline end to end (quality +
    // repetition gate → exact dedup → near-dup clustering → split)
    val docs = graft.Tables.documents(spark, sfDir)
    val prepped = graft.operators.Corpus.corpusPipeline(docs)
    println(s"[demo] corpus pipeline: ${docs.count()} docs in → " +
      s"${prepped.count()} out")
    prepped.groupBy("split").count().orderBy("split").show(false)
    spark.stop()
  }
}
