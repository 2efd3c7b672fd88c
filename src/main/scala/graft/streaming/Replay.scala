package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** The file-stream replay protocol behind every `stream_*` parity key: a
  * bounded relation staged as one file per micro-batch and drained
  * through a real Structured Streaming query, so cross-batch state
  * (exactly-once commits, aggregation / join / custom state, gate
  * order) really runs, and the final answer is hash-compared against
  * the batch oracle.
  *
  *  1. [[stage]] / [[stageFiles]]: one file per batch, stamped with
  *     strictly increasing mtimes along the file-name order. The file
  *     source takes the oldest file first (`maxFilesPerTrigger=1`), and
  *     a range write lands every part in the same millisecond — without
  *     the stamp, ties arrive in arbitrary order, and an early range
  *     arriving behind an advanced watermark is dropped as late by
  *     append-mode state. With it, batch i reads file i on every run.
  *  2. [[drain]] / [[drainEach]]: the query runs to completion under
  *     `Trigger.AvailableNow` with [[Partitions]] shuffle partitions.
  *  3. [[commit]]: the idempotent per-batch sink — batch N overwrites
  *     `outDir/batch_id=N`, so a redelivered batch replaces its own
  *     earlier output instead of duplicating it.
  *  4. [[readBack]] / [[readCommits]]: the committed output, or an empty
  *     frame of the same schema when nothing was committed.
  */
object Replay {

  /** Shuffle partitions for every replay query. Replay micro-batches are
    * fixture-scale (one ranged file per trigger); inheriting the session
    * default (= cores) schedules that many tasks per tiny shuffle AND
    * commits that many state-store partitions per trigger, and the
    * state-store count is fixed by the first batch for the checkpoint's
    * lifetime. Answers are partitioning-independent, so only task
    * counts change. */
  private val Partitions = 4

  /** A staged replay source: the streaming frame over the staged files,
    * and the files in batch order (file i is batch i). */
  final case class Staged(stream: DataFrame, files: Seq[File])

  /** Stage `split` — already split one partition per batch (a
    * repartitionByRange, typically) — as parquet files under `srcDir`. */
  def stage(split: DataFrame, srcDir: String, nFiles: Int): Staged =
    stageFiles(split.sparkSession, srcDir, split.schema, "parquet",
      nFiles) {
      split.write.mode("overwrite").parquet(srcDir)
    }

  /** Stage the `format` files `write` lays out under `srcDir`, for layouts
    * one frame write cannot produce (residue-class batches, a wire file
    * plus a malformed tail, end-of-stream flush files). File names must
    * sort in batch order. The stream reads with `schema`, the frame's own
    * — never a re-read of the staged files. */
  def stageFiles(spark: SparkSession, srcDir: String, schema: StructType,
                 format: String, nFiles: Int)(write: => Unit): Staged = {
    require(nFiles >= 2, s"need >= 2 files for a multi-batch replay: $nFiles")
    write
    // the file source skips hidden (`.crc`) and `_`-prefixed files
    val files = new File(srcDir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .sortBy(_.getName)
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(now + i * 2000L); ()
    }
    val stream = spark.readStream.schema(schema).format(format)
      .option("maxFilesPerTrigger", 1).load(srcDir)
    Staged(stream, files)
  }

  /** Run the query `start` launches (under `Trigger.AvailableNow`) to
    * completion with the replay's shuffle-partition count. The conf is
    * set before the start (a streaming query clones the session conf
    * when it starts) and restored afterwards. */
  def drain(spark: SparkSession)(start: => StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, Partitions.toString)
    try start.awaitTermination() finally spark.conf.set(key, prev)
  }

  /** [[drain]] `frame` with `body` run on every micro-batch. */
  def drainEach(frame: DataFrame, checkpointDir: String, outputMode: String)(
      body: (DataFrame, Long) => Unit): Unit =
    drain(frame.sparkSession) {
      frame.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(body)
        .start()
    }

  /** The idempotent per-batch commit: batch `batchId` overwrites
    * `outDir/batch_id=<batchId>`. */
  def commit(outDir: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** The output committed under `outDir`, read with `schema`, or an empty
    * frame of `schema` when nothing was committed. The explicit schema
    * also covers a commit that wrote no data file (an empty batch under
    * partitionBy), where inference would throw. */
  def readBack(spark: SparkSession, outDir: String,
               schema: StructType): DataFrame =
    if (new File(outDir).exists()) spark.read.schema(schema).parquet(outDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** [[readBack]] of a [[commit]] layout, with each row's `batch_id`. */
  def readCommits(spark: SparkSession, outDir: String,
                  schema: StructType): DataFrame =
    readBack(spark, outDir, schema.add("batch_id", LongType))
}
