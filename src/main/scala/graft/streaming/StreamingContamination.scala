package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming benchmark-decontamination gate — the streaming face of
  * `contamination_ngram`: a continuously-ingesting corpus checked
  * against a STATIC benchmark/holdout set, flagging every incoming
  * document that shares a verbatim k-token passage with it.
  *
  * Shape: the benchmark's k-gram hash set is computed and PERSISTED
  * once as a [[BenchmarkGrams]] carrier (tiny next to the stream — a
  * benchmark is thousands of docs, not billions) and used as the
  * broadcast static side of stream-static joins, which are STATELESS
  * in Structured Streaming — no watermark, no state store. Without the
  * persist, streaming replans re-run the gram build every micro-batch;
  * without the broadcast hint, the post-aggregation size ESTIMATE (not
  * the actual small size) could pick a stream-shuffling sort-merge
  * join. The carrier bakes both in, plus the gram width k — the two
  * sides of the join can never be built at different k.
  *
  * Relation to the batch audit: the per-gram hashing is identical
  * (winnow machinery at w = 1), but the batch `contamination_ngram`
  * additionally df-caps grams over the WHOLE corpus (maxDf) — a
  * corpus-wide statistic a per-batch gate cannot know. The streaming
  * gate therefore flags a strict SUPERSET: every batch-audit pair is
  * gate-flagged, and boilerplate grams the audit's df-cap would drop
  * can additionally flag here. Deploy accordingly: the gate
  * quarantines early, the batch pass is the authoritative audit over
  * the quarantine.
  */
object StreamingContamination {

  /** Distinct k-gram hashes of `textCol` (winnow selection at w = 1). */
  private def grams(textCol: Column, k: Int): Column =
    graft.functions.VectorFunctions.winnowFps(textCol, k, 1)

  /** The static side of the gate: the benchmark's distinct k-gram
    * hashes, persisted for the query's lifetime, with the gram width
    * carried alongside so consumers cannot join at a different k.
    * Release with [[close]] when the streaming query stops. */
  final class BenchmarkGrams private[StreamingContamination] (
      val frame: DataFrame, val k: Int) extends AutoCloseable {
    override def close(): Unit = { frame.unpersist(blocking = false); () }
  }

  /** Build (and persist) the benchmark gram set — compute once, reuse
    * across the streaming query's lifetime. */
  def benchmarkGrams(benchmark: DataFrame, k: Int = 13): BenchmarkGrams =
    new BenchmarkGrams(
      benchmark
        .select(explode(grams(col("text"), k)).as("fp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      k)

  /** Pure-append hit stream: one row per (doc_id, fp) gram the arriving
    * document shares with the benchmark — a STATELESS stream-static
    * inner join (static side broadcast), so the query runs in append
    * mode with no state store. Per-doc aggregation is deliberately NOT
    * done here (it would make the query stateful); consumers either
    * count hits downstream in batch or run [[gateBatch]] inside
    * foreachBatch. */
  def hitPairs(docsStream: DataFrame, bench: BenchmarkGrams): DataFrame =
    docsStream
      .select(col("doc_id"), explode(grams(col("text"), bench.k)).as("fp"))
      .join(broadcast(bench.frame), "fp")

  /** END-TO-END stream-static parity replay (round 12) — the
    * decontamination gate under the driver's full oracle, the third
    * streaming parity key (tumbling = built-in aggregation state,
    * sessionize = flatMapGroupsWithState custom state, THIS =
    * stream-static broadcast join, which is STATELESS — so unlike the
    * other two it needs no end-of-stream machinery at all: every
    * batch's verdicts are final on emission, and any arrival order
    * lands the same table). The corpus' md5 holdout split plays the
    * benchmark: test-split grams build the persisted static side, the
    * TRAIN split replays as a multi-micro-batch file stream through
    * [[gateBatch]], and the accumulated per-document verdicts must
    * hash-match the batch SQL.
    *
    * Output: (doc_id, n_shared, contaminated) over the train split,
    * ordered. */
  def contaminationParityReplay(docs: DataFrame, srcDir: String,
                                outDir: String, checkpointDir: String,
                                nFiles: Int = 8, k: Int = 13): DataFrame = {
    val spark = docs.sparkSession
    val tagged = docs.withColumn("is_test",
      graft.operators.Corpus.isHoldout(col("doc_id")))
    val bench = benchmarkGrams(tagged.filter(col("is_test")), k)
    def verdicts(b: DataFrame): DataFrame = gateBatch(b, bench)
      .select(col("doc_id"), col("n_shared"), col("contaminated"))
    try {
      val staged = Replay.stage(tagged.filter(!col("is_test"))
        .select(col("doc_id"), col("text"))
        .repartitionByRange(nFiles, col("doc_id")), srcDir, nFiles)
      Replay.drainEach(staged.stream, checkpointDir, "append") { (b, _) =>
        verdicts(b).write.mode("append").parquet(outDir)
      }
      Replay.readBack(spark, outDir, verdicts(staged.stream).schema)
        .orderBy(col("doc_id"))
    } finally bench.close()
  }

  /** The deployable per-micro-batch gate, for `foreachBatch`: annotate
    * every document of one batch with its benchmark-gram hit count and
    * a contaminated flag (drop or quarantine flagged docs, pass the
    * rest). Inside foreachBatch the frame is a plain batch DataFrame,
    * so the join + per-doc aggregation carry no streaming-state
    * constraints. The batch frame is referenced twice (hit aggregation
    * + the annotating left join); for wide document rows persist the
    * batch in the foreachBatch body before calling — the standard
    * multi-consumer foreachBatch discipline. */
  def gateBatch(batch: DataFrame, bench: BenchmarkGrams): DataFrame = {
    val hits = batch
      .select(col("doc_id"), explode(grams(col("text"), bench.k)).as("fp"))
      .join(broadcast(bench.frame), "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    batch.join(hits, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated", col("n_shared") > 0)
  }
}
