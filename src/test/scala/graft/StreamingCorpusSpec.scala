package graft

import graft.streaming.{StreamingContamination, StreamingCorpus}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.sql.Timestamp

object StreamingCorpusSpec {
  // top-level: inner case classes can't get an Encoder
  case class Doc(doc_id: Long, ts: Timestamp, text: String)
}

/** Drives the composed corpus-ingest pipeline (quality →
  * decontamination → near-dup gate → shard write) through a real
  * streaming query and checks each gate fired — and fired in the
  * documented order (a contaminated document must not suppress a clean
  * near-duplicate). */
class StreamingCorpusSpec extends SparkSpec {
  import spark.implicits._
  import StreamingCorpusSpec.Doc

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(prefix: String) =
    Scratch.dir(prefix).toString

  // good-quality English-ish text: >50 chars, stopword rate in (0, .5),
  // mean token length in [3, 10], high type-token ratio
  private def goodText(tag: String) =
    s"the curious $tag walked into the library and found seventeen " +
      s"ancient maps describing rivers that nobody alive remembers today"

  private val passage = (0 until 13).map(i => s"held$i").mkString(" ")

  test("composed ingest: quality, decontamination and near-dup gates all " +
    "fire, in order; observed metrics account for the stages") {
    implicit val sqlCtx = spark.sqlContext
    val bench = StreamingContamination.benchmarkGrams(
      Seq((900L, s"benchmark question stem $passage answer tail"))
        .toDF("doc_id", "text"))
    val store = tmp("graft_corpus_store_")
    val out = tmp("graft_corpus_out_")
    val ckpt = tmp("graft_corpus_ckpt_")
    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(1L, ts("2024-01-01 00:00:00"), goodText("archivist")),
      // near-dup of doc 1 (one token differs), later ts → suppressed
      Doc(2L, ts("2024-01-01 00:00:05"),
        goodText("archivist").replace("seventeen", "nineteen")),
      // junk: fails the quality gate (short, no stopwords)
      Doc(3L, ts("2024-01-01 00:00:10"), "zz qq"),
      // good quality BUT carries a verbatim benchmark passage → quarantined
      Doc(4L, ts("2024-01-01 00:00:15"),
        s"an otherwise wonderful essay that quotes $passage verbatim here"),
      // distinct clean doc → survives
      Doc(5L, ts("2024-01-01 00:00:20"), goodText("navigator") +
        " while charting a completely different coastline northward"))
    val q = StreamingCorpus.ingest(mem.toDF(), bench, store, out, ckpt,
      minQuality = 0.5, threshold = 0.5)
    try {
      q.processAllAvailable()
      val survivors = spark.read.parquet(s"$out/batch_id=0")
        .select(col("doc_id")).as[Long].collect().sorted.toSeq
      assert(survivors == Seq(1L, 5L), s"survivors: $survivors")
      val obs = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get(StreamingCorpus.ObservedMetricsName)))
      val nIn = obs.map(_.getAs[Long]("n_in")).sum
      val nQuality = obs.map(_.getAs[Long]("n_quality")).sum
      assert(nIn == 5L, s"n_in: $nIn")
      assert(nQuality == 4L, s"n_quality: $nQuality") // doc 3 dropped
    } finally { q.stop(); bench.close() }
  }

  test("gate order protects clean near-dups: a contaminated earlier twin " +
    "does not suppress the clean later copy") {
    implicit val sqlCtx = spark.sqlContext
    val bench = StreamingContamination.benchmarkGrams(
      Seq((900L, s"benchmark question stem $passage answer tail"))
        .toDF("doc_id", "text"))
    val store = tmp("graft_corpus_store_")
    val out = tmp("graft_corpus_out_")
    val ckpt = tmp("graft_corpus_ckpt_")
    val mem = MemoryStream[Doc]
    // doc 1 is a near-dup of doc 2 AND contaminated; doc 2 is clean.
    // If dedup ran first, doc 1 (earlier ts) would suppress doc 2 and
    // then be quarantined itself — losing both. Decontaminate-first
    // keeps doc 2.
    val body = goodText("cartographer")
    mem.addData(
      Doc(1L, ts("2024-01-01 00:00:00"), s"$body $passage"),
      Doc(2L, ts("2024-01-01 00:00:05"), body))
    val q = StreamingCorpus.ingest(mem.toDF(), bench, store, out, ckpt,
      minQuality = 0.5, threshold = 0.5)
    try {
      q.processAllAvailable()
      val survivors = spark.read.parquet(s"$out/batch_id=0")
        .select(col("doc_id")).as[Long].collect().sorted.toSeq
      assert(survivors == Seq(2L), s"survivors: $survivors")
    } finally { q.stop(); bench.close() }
  }

  test("horizon compaction BITES on the composed pipeline: a pre-cutoff " +
    "survivor leaves the store (state bounded by the horizon) and its " +
    "late twin re-emits; a span-sized horizon suppresses it") {
    implicit val sqlCtx = spark.sqlContext
    def run(horizonSec: Long): (Seq[Long], Set[Long]) = {
      val bench = StreamingContamination.benchmarkGrams(
        Seq((900L, s"benchmark question stem $passage answer tail"))
          .toDF("doc_id", "text"))
      val store = tmp("graft_corpus_store_")
      val out = tmp("graft_corpus_out_")
      val ckpt = tmp("graft_corpus_ckpt_")
      val mem = MemoryStream[Doc]
      // batch 0: the twin base (early ts) + a distinct clean doc two
      // hours later that drags the batch's max event time forward
      mem.addData(
        Doc(1L, ts("2024-01-01 00:00:00"), goodText("archivist")),
        Doc(6L, ts("2024-01-01 02:00:00"), goodText("navigator") +
          " while charting a completely different coastline northward"))
      // a PROCESSING-TIME trigger: AvailableNow would stop after the
      // data present at start, and batch 1 would never run
      val q = StreamingCorpus.ingest(mem.toDF(), bench, store, out, ckpt,
        minQuality = 0.5, threshold = 0.5, horizonSec = horizonSec,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        q.processAllAvailable()
        // batch 1: a near-dup of doc 1, arriving after the cutoff
        mem.addData(Doc(2L, ts("2024-01-01 02:10:00"),
          goodText("archivist").replace("seventeen", "nineteen")))
        q.processAllAvailable()
        val b1 = spark.read.parquet(s"$out/batch_id=1")
          .select(col("doc_id")).as[Long].collect().sorted.toSeq
        // the state batch 1 consulted (round-15 append-only layout:
        // manifest v=0's live segments, per-segment cutoffs applied)
        val storeDocs = graft.streaming.StreamingDedup
          .storeStateFor(spark, store, 1L)
          .select(col("doc_id")).distinct().as[Long].collect().toSet
        (b1, storeDocs)
      } finally { q.stop(); bench.close() }
    }
    // 10-minute horizon: batch 0's cutoff (02:00 − 10 min) evicts the
    // 00:00 survivor from the store batch 1 reads — state is bounded
    // by arrival-rate × horizon — and the late twin RE-EMITS (the
    // documented nearDupGate trade)
    val (bitten, prunedStore) = run(600L)
    assert(prunedStore == Set(6L), s"pruned store: $prunedStore")
    assert(bitten == Seq(2L), s"late twin must re-emit: $bitten")
    // span-sized horizon (the stream_corpus_compact setting): nothing
    // evicted, the twin is suppressed across batches
    val (inert, fullStore) = run(3L * 3600L)
    assert(fullStore == Set(1L, 6L), s"unpruned store: $fullStore")
    assert(inert == Seq(), s"twin must be suppressed: $inert")
  }
}
