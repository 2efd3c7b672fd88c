package graftbench

import java.io.File
import java.nio.file.Files

import graft.GraftExportClient
import graft.operators.{Dedup, ExportPipeline, TextAnalysis}
import graft.streaming.{StreamingContamination, StreamingCorpus, StreamingExport}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** One timed unit: a micro-batch commit. `dur` holds its progress
  * durations (`StreamingQueryProgress.durationMs`). */
final case class UnitRec(ms: Double, rows: Long, id: Long, dur: Map[String, Long])

/** A closed-loop stream over a backlog of pre-staged files, one file per
  * micro-batch (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`): one
  * thread issues the next round only after the previous one has
  * drained. Each round moves the next files into the source directory and
  * drains them with a query on the same checkpoint, so batch N is file N
  * and a run stops between batches, never inside one. */
abstract class StreamWorkload(val spark: SparkSession, val dir: String) {
  /** Untimed batches on the main target before the first timed one. */
  def warmup: Int
  /** Start the production query over `src` on the main target. */
  protected def startMain(src: DataFrame): StreamingQuery
  /** Traced direct replay of the first `n` batches through the public
    * per-batch calls. */
  def replay(tracer: Tracer, n: Int): Unit
  /** What the checker needs, written outside the timed window. */
  def finish(): Map[String, Any]

  protected def path(p: String): String = s"$dir/$p"
  protected val ckpt: String = path("work/main/ckpt")
  protected val backlog: Seq[File] =
    Option(new File(path("input/pending")).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  protected val schema: StructType = spark.read.parquet(backlog.head.getPath).schema
  private val srcDir = path("work/main/src")
  private var next = 0
  /** Median batch ms of the last round: sizes the next round. */
  private var est = 1000.0
  /** Location of each consumed backlog file, by batch id. */
  protected val consumed = scala.collection.mutable.ArrayBuffer[File]()

  protected def stream(src: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

  protected def batchFile(i: Int): DataFrame =
    spark.read.schema(schema).parquet(consumed(i).getPath)

  /** Run the production query over the next `k` backlog files. */
  private def round(k: Int): Seq[UnitRec] = {
    new File(srcDir).mkdirs()
    val take = backlog.slice(next, next + k)
    take.foreach { f =>
      val dst = new File(srcDir, f.getName)
      Files.move(f.toPath, dst.toPath)
      consumed += dst
    }
    next += take.size
    val q = startMain(stream(srcDir))
    q.awaitTermination()
    val units = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def g(k: String): Long = Option(d.get(k)).fold(0L)(_.longValue)
      UnitRec(g("triggerExecution").toDouble, p.numInputRows, p.batchId,
        Seq("triggerExecution", "addBatch", "latestOffset", "getBatch",
          "walCommit", "commitOffsets", "queryPlanning").map(k => k -> g(k)).toMap)
    }
    if (units.nonEmpty) est = units.map(_.ms).sorted.apply(units.size / 2)
    units
  }

  def init(): Unit = { round(warmup); () }

  /** Run rounds until `deadlineNs`; returns the batches completed. */
  def run(deadlineNs: Long): Seq[UnitRec] = {
    val out = scala.collection.mutable.ArrayBuffer[UnitRec]()
    // stop once the next batch would end further past the deadline than
    // stopping now falls short of it
    def remainMs = (deadlineNs - System.nanoTime()) / 1e6
    while ((out.isEmpty || remainMs > est / 2) && next < backlog.size)
      out ++= round(math.max(1, (remainMs / est).toInt))
    out.toSeq
  }

  /** Batch ids whose commit is recorded in the checkpoint. */
  protected def committed: Seq[Long] =
    Option(new File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).sorted
}

/** export_stream: small event files drained by the streaming catalog sink
  * (ORC table, leading batch_id partition, exactly-once). */
final class ExportStreamWorkload(spark: SparkSession, dir: String)
    extends StreamWorkload(spark, dir) {
  val warmup = 5
  private val cfg = GraftExportClient.configure(Map(
    "hive.db" -> "graftbench", "hive.table" -> "events",
    "hive.partition.columns" -> "EVENTS:CONTINENT|COUNTRY"))
  private val partCols = cfg.partitionColsFor("events").map(_.toLowerCase)

  protected def startMain(src: DataFrame): StreamingQuery =
    GraftExportClient.exportStreamCatalog(src, "events", cfg, ckpt)

  def replay(tracer: Tracer, n: Int): Unit =
    (0 until n).foreach { i =>
      tracer.span("scan", i) {
        batchFile(i).write.format("noop").mode("overwrite").save()
      }
      tracer.span("batch", i) {
        val routed = tracer.span("route", i) {
          val r = ExportPipeline.route(batchFile(i), partCols,
            timezone = Some(cfg.timezone)).persist()
          r.count()
          r
        }
        tracer.span("sink", i) {
          StreamingExport.writeBatchCatalog(routed, "replay", "events", i)
        }
        routed.unpersist()
      }
    }

  def finish(): Map[String, Any] = {
    val ids = committed
    // reference payloads: the batch row path over the committed files
    ExportPipeline.route(spark.read.schema(schema)
        .parquet(ids.map(id => consumed(id.toInt).getPath): _*),
        partCols, timezone = Some(cfg.timezone))
      .write.mode("overwrite").parquet(path("check/ref_route"))
    Map("committed" -> ids,
      "table_dir" -> path("warehouse/graftbench.db/events"),
      "replay_table_dir" -> path("warehouse/replay.db/events"),
      "ref_route" -> path("check/ref_route"))
  }
}

/** corpus_ingest: document files drained by the composed streaming ingest
  * (quality -> decontamination -> MinHash near-dup gate + survivor store).
  * The traced run ends with a batch curation of the replayed documents, so
  * the batch dedup layers are measured too. */
final class CorpusIngestWorkload(spark: SparkSession, dir: String)
    extends StreamWorkload(spark, dir) {
  val warmup = 1
  private val horizonSec = 600L
  private var bench: StreamingContamination.BenchmarkGrams = _

  protected def startMain(src: DataFrame): StreamingQuery =
    StreamingCorpus.ingest(src, bench, path("work/main/store"),
      path("work/main/out"), ckpt, horizonSec = horizonSec)

  override def init(): Unit = {
    bench = StreamingContamination.benchmarkGrams(
      spark.read.parquet(path("input/bench.parquet")), k = 13)
    super.init()
  }

  /** Each batch goes through `StreamingCorpus.ingestBatch` with the
    * parameters `ingest` passes it, after the quality filter `ingest`
    * applies in the stream plan. One "ingest" span covers the call; [[ExecListener]] splits its
    * jobs into the quality, contamination and dedup_gate layers by the
    * graft frame that issued them. */
  def replay(tracer: Tracer, n: Int): Unit = {
    (0 until n).foreach { i =>
      val kept = batchFile(i)
        .withColumn("quality", TextAnalysis.qualityExpr(col("text")))
        .filter(col("quality") >= 0.5).drop("quality")
      tracer.span("ingest", i) {
        StreamingCorpus.ingestBatch(kept, i, bench, path("work/replay/store"),
          path("work/replay/out"), 0.5, horizonSec, 64, 4, 3)
      }
    }
    curation(tracer, spark.read.schema(schema)
      .parquet(consumed.take(n).map(_.getPath).toSeq: _*))
  }

  /** Batch curation, as `Corpus.corpusPipeline` composes it: quality and
    * repetition gate plus exact dedup, exact n-gram Jaccard pairs, then
    * connected components on the distributed label-propagation path
    * (`smallGraphEdgeCap = 0`, the setting for graphs too large to
    * collect), so its superstep loop runs at this size. */
  private def curation(tracer: Tracer, docs: DataFrame): Unit =
    tracer.span("curation", 0) {
      val norm = regexp_replace(trim(lower(col("text"))), " +", " ")
      val winners = tracer.span("curate", 0) {
        val w = docs.withColumn("quality", TextAnalysis.qualityExpr(col("text")))
          .filter(col("quality") >= 0.5 && TextAnalysis.repetitionKeepExpr(col("text")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(md5(norm)).orderBy(col("doc_id"))))
          .filter(col("rn") === 1).drop("rn").persist()
        w.count()
        w
      }
      val pairs = tracer.span("dedup", 0) {
        val p = Dedup.ngramJaccardPairs(winners, 0.5, 3, Some(100))
          .select("doc_a", "doc_b").persist()
        tracer.annotate("pairs" -> p.count())
        p
      }
      val labels = tracer.span("components", 0) {
        val l = Dedup.connectedComponents(pairs, 20, smallGraphEdgeCap = 0L).persist()
        l.count()
        l
      }
      tracer.span("curate", 0) {
        winners.join(labels.filter(col("lbl") =!= col("node"))
            .select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
          .select("doc_id").collect()
      }
      Seq(winners, pairs, labels).foreach(_.unpersist())
    }

  def finish(): Map[String, Any] = {
    val ids = committed
    Map("committed" -> ids,
      "inputs" -> ids.map(id => consumed(id.toInt).getPath),
      "out_dir" -> path("work/main/out"),
      "store_dir" -> path("work/main/store"))
  }
}
