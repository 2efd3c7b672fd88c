package graft

import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.sql.Timestamp

object StreamingDedupSpec {
  // top-level: inner case classes can't get an Encoder
  case class Doc(doc_id: Long, ts: Timestamp, text: String)
}

/** Drives watermark-bounded streaming dedup through a real streaming
  * query: in-batch and cross-batch duplicates within the horizon are
  * dropped; state is watermark-pruned so a duplicate arriving after the
  * horizon re-emits (the documented bounded-state trade). */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._
  import StreamingDedupSpec.Doc

  private def ts(s: String) = Timestamp.valueOf(s)

  test("withinWatermark drops in-horizon duplicates, re-emits past it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = StreamingDedup.withinWatermark(mem.toDF(), Seq("doc_id"),
      watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup_stream").start()
    try {
      // batch 1: doc 1 duplicated in-batch, doc 2 once
      mem.addData(
        Doc(1L, ts("2024-01-01 00:00:00"), "a"),
        Doc(1L, ts("2024-01-01 00:00:05"), "a-dup"),
        Doc(2L, ts("2024-01-01 00:00:10"), "b"))
      q.processAllAvailable()
      // batch 2: doc 1 again within the horizon → still suppressed
      mem.addData(Doc(1L, ts("2024-01-01 00:05:00"), "a-again"))
      q.processAllAvailable()
      val inHorizon = spark.table("wm_dedup_stream").as[Doc].collect()
      assert(inHorizon.map(_.doc_id).sorted.toSeq == Seq(1L, 2L))

      // advance the watermark far past doc 1's state, then replay doc 1:
      // state was pruned → re-emit (bounded-state semantics)
      mem.addData(Doc(3L, ts("2024-01-01 12:00:00"), "c"))
      q.processAllAvailable()
      mem.addData(Doc(1L, ts("2024-01-01 12:00:01"), "a-late-dup"))
      q.processAllAvailable()
      val all = spark.table("wm_dedup_stream").as[Doc].collect()
      assert(all.count(_.doc_id == 1L) == 2,
        s"expected doc 1 re-emitted after horizon, got ${all.toSeq}")
      assert(all.map(_.doc_id).toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("nearDupGate suppresses MinHash near-dups in-batch and cross-batch, " +
    "re-emits past the horizon, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val store = Scratch.dir("graft_ndg_store_").toString
    val out = Scratch.dir("graft_ndg_out_").toString
    val ckpt = Scratch.dir("graft_ndg_ckpt_").toString

    // near-dups: one word of ~30 changed (3-gram Jaccard ≈ 0.8, well
    // over the 0.5 gate); distinct docs share no shingles
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    def variant(w: String) = base.split(" ").dropRight(1).mkString(" ") + " " + w
    val other = (0 until 30).map(i => s"zzz$i").mkString(" ")
    val third = (0 until 30).map(i => s"qqq$i").mkString(" ")

    // continuous trigger: the spec feeds batches incrementally (the
    // AvailableNow default would stop after draining the first batch)
    val q = graft.streaming.StreamingDedup.nearDupGate(
      mem.toDF(), store, out, ckpt, horizonSec = 600L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 0: base doc, an in-batch near-dup (later ts), one distinct
      mem.addData(
        Doc(1L, ts("2024-01-01 00:00:00"), base),
        Doc(2L, ts("2024-01-01 00:00:05"), variant("changed")),
        Doc(3L, ts("2024-01-01 00:00:10"), other))
      q.processAllAvailable()
      // batch 1 (within the 10 min horizon): another near-dup → suppressed
      // cross-batch against the stored survivor; a fresh doc passes
      mem.addData(
        Doc(4L, ts("2024-01-01 00:05:00"), variant("again")),
        Doc(5L, ts("2024-01-01 00:05:00"), other.toUpperCase))
      q.processAllAvailable()
      val inHorizon = spark.read.option("basePath", out)
        .parquet(s"$out/batch_id=*").as[Doc].collect()
      assert(inHorizon.map(_.doc_id).sorted.toSeq == Seq(1L, 3L, 5L),
        s"got ${inHorizon.map(_.doc_id).sorted.toSeq}")

      // batch 2 advances event time far past the horizon → store prunes
      mem.addData(Doc(6L, ts("2024-01-01 12:00:00"), third))
      q.processAllAvailable()
      // state boundedness: the LIVE store (latest manifest, per-segment
      // cutoffs applied) holds ONLY doc 6 in both halves (16 narrow
      // band rows + 1 signature row) — every pre-horizon segment left
      // the manifest when the horizon bit
      val (liveBands, liveSigs) =
        graft.streaming.StreamingDedup.storeContents(spark, store)
      assert(liveBands.select("doc_id").distinct().as[Long].collect().toSeq == Seq(6L))
      assert(liveSigs.select("doc_id").as[Long].collect().toSeq == Seq(6L))

      // batch 3: a near-dup of doc 1 past the horizon → re-emits (the
      // same bounded-state trade as dropDuplicatesWithinWatermark)
      mem.addData(Doc(7L, ts("2024-01-01 12:00:01"), variant("late")))
      q.processAllAvailable()
      val all = spark.read.option("basePath", out)
        .parquet(s"$out/batch_id=*").as[Doc].collect()
      assert(all.map(_.doc_id).sorted.toSeq == Seq(1L, 3L, 5L, 6L, 7L),
        s"got ${all.map(_.doc_id).sorted.toSeq}")

      // store GC: only segments referenced by the last two manifests
      // stay on disk (batch 2 pruned segments 0-1 from its manifest,
      // so after batch 3 only seg=2 and seg=3 survive), and only
      // manifests v=2, v=3 — batch count does not grow store disk
      val segs = new java.io.File(store).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSet
      assert(segs == Set("seg=2", "seg=3"), s"store segments on disk: $segs")
      val ms = new java.io.File(store, "manifest").listFiles()
        .map(_.getName).filter(_.startsWith("v=")).toSet
      assert(ms == Set("v=2", "v=3"), s"manifests on disk: $ms")
    } finally q.stop()
  }

  test("a store-suppressed doc is not an in-batch suppressor (no cross chains)") {
    import graft.operators.Dedup
    val store = Scratch.dir("graft_ndg_chain_store_").toString
    val out = Scratch.dir("graft_ndg_chain_out_").toString
    // A stored; batch 1 = {B ~ A (store-suppressed), C ~ B but NOT ~ A}.
    // Near-dup similarity is not transitive: C's only in-batch bucket
    // mate is B, and B will not be emitted — so suppressing C would
    // leave it with no emitted survivor within threshold.
    val words = (0 until 30).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.take(24) ++ (24 until 30).map(i => s"b$i")).mkString(" ")
    val c = ((0 until 6).map(i => s"c$i") ++ words.slice(6, 24) ++
      (24 until 30).map(i => s"b$i")).mkString(" ")

    // fixture sanity (makes the test non-vacuous): A~B and B~C clear the
    // 0.5 signature gate, A~C does not, and B,C DO share an LSH bucket —
    // without the fix, B's chain would knock C out
    val sigs = Dedup.minHashSignatures(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"), 3, 64)
    val sigMap = sigs.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("sig")).toMap
    def agree(x: scala.collection.Seq[Long], y: scala.collection.Seq[Long]) =
      x.zip(y).count { case (p, q) => p == q } / 64.0
    assert(agree(sigMap(1L), sigMap(2L)) >= 0.5, "fixture: B must match A")
    assert(agree(sigMap(2L), sigMap(3L)) >= 0.5, "fixture: C must match B")
    assert(agree(sigMap(1L), sigMap(3L)) < 0.5, "fixture: C must NOT match A")
    val bandRows = Dedup.lshBands(sigs, 64, 4).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("band"), r.getAs[String]("bucket"))))
    def buckets(id: Long) =
      bandRows.collect { case (d, bb) if d == id => bb }.toSet
    assert(buckets(2L).intersect(buckets(3L)).nonEmpty,
      "fixture: B and C must share an LSH bucket")

    StreamingDedup.nearDupGateBatch(
      Seq(Doc(1L, ts("2024-01-01 00:00:00"), a)).toDF(),
      0L, store, out, 0.5, 600L, 64, 4, 3)
    // a foreign entry under the store root (seg=<non-numeric>) must be
    // ignored by segment GC like any other unremovable file — never a
    // NumberFormatException failing the micro-batch
    assert(new java.io.File(store, "seg=stray").mkdir())
    StreamingDedup.nearDupGateBatch(
      Seq(Doc(2L, ts("2024-01-01 00:01:00"), b),
        Doc(3L, ts("2024-01-01 00:02:00"), c)).toDF(),
      1L, store, out, 0.5, 600L, 64, 4, 3)
    val b1 = spark.read.parquet(s"$out/batch_id=1").as[Doc].collect()
    assert(b1.map(_.doc_id).toSeq == Seq(3L),
      s"expected only C to survive, got ${b1.map(_.doc_id).toSeq}")
  }

  test("streaming ingest gate: quality+repetition filter composes with " +
    "watermarked dedup (narrow expressions are streaming-safe)") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    // the same gate expressions the batch corpus_pipeline uses, applied
    // pre-state: junk never enters the dedup store
    val gated = mem.toDF()
      .filter(TextAnalysis.repetitionKeepExpr(col("text")) &&
        TextAnalysis.qualityExpr(col("text")) >= 0.5)
    val out = StreamingDedup.withinWatermark(gated, Seq("doc_id"),
      watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("gate_stream").start()
    try {
      // unique tokens with scattered stopwords: no repeated bigram, top
      // token ("the") at 10/70, stopword rate in (0, 0.5) — passes both
      // gates with margin
      val good = (0 until 70)
        .map(i => if (i % 7 == 0) "the" else s"uniq$i").mkString(" ")
      mem.addData(
        Doc(1L, ts("2024-01-01 00:00:00"), good),
        Doc(1L, ts("2024-01-01 00:00:05"), good), // dup of 1 (same key)
        Doc(2L, ts("2024-01-01 00:00:10"), "spam spam spam spam spam spam"),
        Doc(3L, ts("2024-01-01 00:00:15"), "short"))
      q.processAllAvailable()
      val got = spark.table("gate_stream").as[Doc].collect()
      // doc 1 once (dedup), docs 2 (repetition) and 3 (quality) gated out
      assert(got.map(_.doc_id).toSeq == Seq(1L),
        s"got ${got.map(_.doc_id).toSeq}")
    } finally q.stop()
  }

  test("exactGlobal never re-emits a key for the query lifetime") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = StreamingDedup.exactGlobal(mem.toDF(), Seq("doc_id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("global_dedup_stream").start()
    try {
      mem.addData(Doc(1L, ts("2024-01-01 00:00:00"), "a"))
      q.processAllAvailable()
      mem.addData(Doc(1L, ts("2024-01-02 00:00:00"), "a-next-day"))
      q.processAllAvailable()
      assert(spark.table("global_dedup_stream").count() == 1L)
    } finally q.stop()
  }

  test("exact parity replay: dropDuplicates over a multi-batch file " +
    "replay equals batch DISTINCT, with duplicates spanning batches") {
    val base = Scratch.dir("graft_dedup_parity_").toString
    try {
      // duplicate texts at OPPOSITE ends of the doc_id range: the
      // range split puts them in different micro-batches, so only
      // cross-batch dropDuplicates state can suppress the second copy
      val docs = Seq(
        (1L, "alpha beta"), (2L, "gamma"), (3L, "delta"),
        (4L, "epsilon"), (5L, "zeta"), (6L, "alpha beta"),
        (7L, "gamma"), (8L, "eta")).toDF("doc_id", "text")
      val out = StreamingDedup.exactParityReplay(
        docs, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      val batch = docs.selectExpr("md5(text) AS h",
          "length(text) AS n_chars")
        .distinct().orderBy(col("h"))
      assert(out.collect().toSeq.map(_.toSeq) ==
        batch.collect().toSeq.map(_.toSeq),
        "streaming dedup replay diverged from batch DISTINCT")
      assert(out.count() == 6L)
      // the cross-batch claim must be structural: one committed offset
      // per micro-batch
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }

  test("exact parity replay: empty corpus yields the empty key table") {
    val base = Scratch.dir("graft_dedup_parity_empty_").toString
    try {
      val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val out = StreamingDedup.exactParityReplay(
        docs, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 2)
      assert(out.collect().isEmpty)
      assert(out.columns.toSeq == Seq("h", "n_chars"))
    } finally Scratch.rm(new java.io.File(base))
  }

  test("append-only store: per-batch write volume is O(batch), not " +
    "O(store); compaction folds the manifest when the segment cap bites") {
    val store = Scratch.dir("graft_ndg_ao_store_").toString
    val out = Scratch.dir("graft_ndg_ao_out_").toString
    // 8 batches of ONE distinct doc each (no shared shingles), horizon
    // far past the span so nothing expires — the store grows to 8 docs
    def doc(i: Int) =
      Doc(i.toLong, ts(f"2024-01-01 00:0$i:00"),
        (0 until 30).map(j => s"b${i}w$j").mkString(" "))
    def segBytes(i: Int): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(store, s"seg=$i"))
    }
    for (i <- 0 until 8)
      StreamingDedup.nearDupGateBatch(Seq(doc(i)).toDF(), i.toLong,
        store, out, 0.5, 100000L, 64, 4, 3, maxSegments = 16)
    // O(batch) writes: the LAST segment (store holds 7 prior docs) is
    // the same size as an early one (store held 1) — a whole-store
    // rewrite would read ~7x here (r14's measured ~16x amplification)
    val early = segBytes(2).toDouble
    val late = segBytes(7).toDouble
    assert(late < early * 2.0,
      s"segment write grew with store size: seg=2 $early B, seg=7 $late B")
    // all 8 docs live (nothing expired), manifest carries 8 segments
    val (liveBands, _) = StreamingDedup.storeContents(spark, store)
    assert(liveBands.select("doc_id").distinct().count() == 8L)
    // cap bites: batch 8 with maxSegments=4 folds everything into one
    // compacted segment; live contents unchanged (9 docs now)
    StreamingDedup.nearDupGateBatch(Seq(doc(8)).toDF(), 8L,
      store, out, 0.5, 100000L, 64, 4, 3, maxSegments = 4)
    val m = StreamingDedup.readManifest(spark, store, Long.MaxValue)
    assert(m.map(_.seg) == Seq(8L), s"expected one compacted segment: $m")
    val (after, afterSigs) = StreamingDedup.storeContents(spark, store)
    assert(after.select("doc_id").distinct().count() == 9L)
    assert(afterSigs.count() == 9L)
  }

  // distinct 30-word docs (no shared shingles across seeds) and their
  // one-word-changed near-dups (3-gram Jaccard ≈ 0.8)
  private def words(seed: String) = (0 until 30).map(i => s"${seed}w$i")
  private def distinctDoc(id: Long, minute: Int, seed: String) =
    Doc(id, ts(f"2024-01-01 00:$minute%02d:00"), words(seed).mkString(" "))
  private def nearDup(id: Long, minute: Int, seed: String) =
    Doc(id, ts(f"2024-01-01 00:$minute%02d:00"),
      (words(seed).dropRight(1) :+ "changed").mkString(" "))

  test("signature-only store: a batch launches the same Spark jobs with 1 " +
    "live segment as with 5, all inside SQL executions, and a segment " +
    "holds only sigs") {
    // one distinct doc per store batch, horizon far past the span
    def storeWith(segments: Int): (String, String) = {
      val store = Scratch.dir("graft_ndg_jobs_store_").toString
      val out = Scratch.dir("graft_ndg_jobs_out_").toString
      for (i <- 0 until segments)
        StreamingDedup.nearDupGateBatch(
          Seq(distinctDoc(i.toLong, i, s"s$i")).toDF(), i.toLong,
          store, out, 0.5, 100000L, 64, 4, 3)
      (store, out)
    }
    // the probe batch: a near-dup of stored doc 0 plus a fresh doc, so
    // the store join, the in-batch join and the segment write all run
    def probe(store: String, out: String): ((Int, Int), Seq[Long]) = {
      val batch = Seq(nearDup(100L, 30, "s0"), distinctDoc(101L, 31, "fresh"))
        .toDF().persist()
      batch.count()
      val counted = jobsOf(StreamingDedup.nearDupGateBatch(batch, 9L,
        store, out, 0.5, 100000L, 64, 4, 3))
      batch.unpersist()
      (counted, spark.read.parquet(s"$out/batch_id=9").as[Doc]
        .collect().map(_.doc_id).sorted.toSeq)
    }
    val (one, five) = (storeWith(1), storeWith(5))
    val ((jobs1, bare1), surv1) = probe(one._1, one._2)
    val ((jobs5, bare5), surv5) = probe(five._1, five._2)
    assert(surv1 == Seq(101L) && surv5 == Seq(101L),
      s"near-dup of a stored doc must be suppressed: $surv1 / $surv5")
    assert(jobs1 == jobs5,
      s"jobs grew with live segments: $jobs1 with 1, $jobs5 with 5")
    assert(bare1 == 0 && bare5 == 0,
      s"jobs outside a SQL execution (schema inference?): $bare1 / $bare5")
    val m = StreamingDedup.readManifest(spark, five._1, Long.MaxValue)
    assert(m.map(_.seg) == Seq(0L, 1L, 2L, 3L, 4L, 9L), s"manifest: $m")
    m.foreach { s =>
      val halves = new java.io.File(five._1, s"seg=${s.seg}").list().toSet
      assert(halves == Set("sigs"), s"seg=${s.seg} holds $halves")
    }
  }

  test("derived store bands equal Dedup.lshBands of the stored docs' " +
    "signatures") {
    import graft.operators.Dedup
    val store = Scratch.dir("graft_ndg_bands_store_").toString
    val out = Scratch.dir("graft_ndg_bands_out_").toString
    val docs = Seq(
      Seq(distinctDoc(1L, 0, "a"), nearDup(2L, 1, "a"), distinctDoc(3L, 2, "b")),
      Seq(nearDup(4L, 3, "b"), distinctDoc(5L, 4, "c")))
    docs.zipWithIndex.foreach { case (b, i) =>
      StreamingDedup.nearDupGateBatch(b.toDF(), i.toLong, store, out,
        0.5, 100000L, 64, 4, 3)
    }
    val (bands, sigs) = StreamingDedup.storeContents(spark, store)
    // survivors 1, 3, 5; their signatures recomputed from the texts
    val expectSigs = Dedup.minHashSignatures(docs.flatten.toDF()
      .filter(col("doc_id").isin(1L, 3L, 5L)), 3, 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    assert(rows(sigs.select("doc_id", "sig")) == rows(expectSigs))
    val expectBands = Dedup.lshBands(expectSigs, 64, 4)
    assert(rows(bands.select("doc_id", "band", "bucket")) == rows(expectBands))
    assert(bands.count() == 3L * 16L)
  }

  test("a legacy two-half segment (seg=N/{bands,sigs}) gives the same " +
    "suppressions as a signature-only one") {
    import graft.operators.Dedup
    val batch0 = Seq(distinctDoc(1L, 0, "a"), distinctDoc(2L, 1, "b"))
    val batch1 = Seq(nearDup(3L, 2, "a"), distinctDoc(4L, 3, "c"),
      nearDup(5L, 4, "b"))
    def run(legacy: Boolean): Seq[Long] = {
      val store = Scratch.dir("graft_ndg_legacy_store_").toString
      val out = Scratch.dir("graft_ndg_legacy_out_").toString
      StreamingDedup.nearDupGateBatch(batch0.toDF(), 0L, store, out,
        0.5, 100000L, 64, 4, 3)
      if (legacy) {
        // the band half the older layout wrote beside sigs
        val docs = batch0.toDF()
        Dedup.lshBands(Dedup.minHashSignatures(docs, 3, 64), 64, 4)
          .join(docs.select("doc_id", "ts"), "doc_id")
          .select("doc_id", "ts", "band", "bucket")
          .write.parquet(s"$store/seg=0/bands")
      }
      StreamingDedup.nearDupGateBatch(batch1.toDF(), 1L, store, out,
        0.5, 100000L, 64, 4, 3)
      if (legacy)
        assert(new java.io.File(store, "seg=0").list().toSet ==
          Set("bands", "sigs"))
      spark.read.parquet(s"$out/batch_id=1").as[Doc]
        .collect().map(_.doc_id).sorted.toSeq
    }
    val current = run(legacy = false)
    assert(current == Seq(4L), s"expected only the fresh doc: $current")
    assert(run(legacy = true) == current)
  }
}
