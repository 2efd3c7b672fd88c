package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming exact deduplication — the streaming face of B1 dedup_exact,
  * the front gate of a continuously-ingesting training-data pipeline
  * (the same stream-shaped source the reference conduit consumes).
  *
  * Two contracts, different state growth:
  *
  *  - [[exactGlobal]]: `dropDuplicates(keys)` — a key is emitted once for
  *    the lifetime of the query. State grows with distinct keys forever;
  *    only safe when the key space is bounded (it is NOT at 100 TB/day —
  *    documented, kept for the bounded-key case).
  *  - [[withinWatermark]]: `dropDuplicatesWithinWatermark(keys)` — a key
  *    is emitted once per watermark horizon; state for keys older than
  *    the watermark is dropped by the engine. State is bounded by
  *    (arrival rate × horizon) regardless of stream lifetime — the
  *    100 TB-scale path. Duplicates separated by more than the horizon
  *    re-emit; that is the documented trade (downstream batch dedup_exact
  *    catches stragglers).
  */
object StreamingDedup {

  /** Lifetime-global dedup: unbounded state, bounded-key streams only. */
  def exactGlobal(stream: DataFrame, keys: Seq[String]): DataFrame =
    stream.dropDuplicates(keys)

  /** Watermark-bounded dedup on `keys`: exactly-one emit per key within
    * the `watermark` horizon on event-time column `tsCol`; engine prunes
    * state past the watermark. */
  def withinWatermark(stream: DataFrame, keys: Seq[String],
                      tsCol: String = "ts",
                      watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Batch-equivalence reference for the specs: the rows the watermarked
    * stream must emit for an in-horizon input — first row per key in
    * (ts, tiebreak) order is representative; we compare key sets, since
    * which duplicate wins is arrival-order-defined in a stream. */
  def distinctKeys(batch: DataFrame, keys: Seq[String]): Dataset[Row] =
    batch.select(keys.map(col): _*).distinct()

  /** END-TO-END streaming-dedup parity replay (round 12) — the
    * `dropDuplicates` state store under the driver's full oracle,
    * sibling of `StreamingWindows.tumblingParityReplay`: the batch
    * `documents` relation is staged as `nFiles` doc_id-ranged files
    * (exact duplicates are scattered across the id space, so
    * duplicate groups SPAN micro-batches — the cross-batch suppression
    * is what this replay exists to prove), replayed ([[Replay]])
    * through [[exactGlobal]] on the content hash,
    * each append batch committed to its own `batch_id=N` directory, and
    * the union of the commits returned for the hash-compare against
    * `SELECT DISTINCT md5(text), length(text)`.
    *
    * The emitted columns are FUNCTIONS OF THE KEY (`h = md5(text)`,
    * `n_chars = length(text)`): which physical duplicate wins is
    * arrival-order-defined in a stream, so an arrival-order-independent
    * oracle row forces every non-key column to be derived from the key
    * text itself — the same reasoning behind [[distinctKeys]]. A key
    * seen in batch 1 and again in batch 4 MUST appear in exactly one
    * commit; a state miss double-writes it and the hash compare fails.
    *
    * Scale shape: the split is one bounded repartitionByRange write; the
    * replay is the production [[exactGlobal]] contract whose state is
    * the distinct-key set (bounded-key streams only — the watermarked
    * variant is the unbounded-corpus path, exercised by the specs). */
  def exactParityReplay(docs: DataFrame, srcDir: String, outDir: String,
                        checkpointDir: String, nFiles: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val staged = Replay.stage(docs.select(col("doc_id"), col("text"))
      .repartitionByRange(nFiles, col("doc_id")), srcDir, nFiles)
    val keyed = staged.stream.select(
      md5(col("text")).as("h"),
      length(col("text")).as("n_chars"))
    val distinct = exactGlobal(keyed, Seq("h"))
    Replay.drainEach(distinct, checkpointDir, "append")(Replay.commit(outDir))
    Replay.readBack(spark, outDir, distinct.schema)
      .select(col("h"), col("n_chars"))
      .orderBy(col("h"))
  }

  /** Streaming NEAR-dup dedup — the MinHash-LSH front gate for a
    * continuously-ingesting corpus, composing the batch pieces
    * (Dedup.minHashSig / bandRows) with micro-batch state:
    *
    *  per micro-batch —
    *   1. signatures + (band, bucket) keys for the batch (narrow);
    *   2. a doc is suppressed when it shares a band bucket with a doc in
    *      the signature STORE (the horizon's survivors — same blocking
    *      equi-join as the batch path) or with an earlier doc in the same
    *      batch (earlier = smaller (ts, doc_id)), AND the signature
    *      agreement confirms it: |matching minhashes|/numHashes ≥
    *      `threshold` (the standard unbiased Jaccard estimator — the
    *      streaming stand-in for the batch path's exact re-verify, since
    *      the store keeps signatures, not shingle sets);
    *   3. survivors are committed to `outDir/batch_id=N` (idempotent
    *      overwrite — the StreamingExport exactly-once discipline) and
    *      their signatures appended to the store, PRUNED to the event-time
    *      horizon: state is bounded by arrival-rate × `horizonSec`
    *      forever, exactly like dropDuplicatesWithinWatermark's store.
    *      A near-dup arriving more than a horizon after its twin
    *      re-emits — the same documented trade as [[withinWatermark]].
    *
    * STORE LAYOUT — an append-only signature log + versioned manifest:
    * each batch writes ONLY its own survivors as one immutable segment
    * table `seg=N/sigs` (doc_id, ts, sig), so per-batch write volume is
    * O(batch), never O(store). The store keeps no band table: the
    * gate derives the store's (band, bucket) rows on read with the same
    * [[Dedup.bandRows]] explode the batch side uses, each row still
    * carrying its signature — one write per batch, and no join back
    * from bands to signatures. Segments are read with their known
    * schema ([[SigSchema]]), so a read launches no schema-inference job
    * however many segments are live. A tiny manifest `manifest/v=N`
    * (one row per live segment: seg id, max event time, effective
    * cutoff) is the committed store state: batch N reads the largest
    * manifest v < N and unions the listed segments, each filtered to
    * `ts > eff_cutoff(seg)`. The per-segment RUNNING-MAX cutoff keeps
    * "once pruned, gone forever" even under event-time regression
    * across batches: every batch raises each live segment's eff_cutoff
    * to max(prev, maxTs(batch) − horizon). A segment whose max_ts ≤ its
    * eff_cutoff is fully expired and simply leaves the manifest (no
    * IO); a physical rewrite (all live rows → one segment) runs only
    * when the live-segment count exceeds `maxSegments`, bounding read
    * fan-in and dead-row disk at a constant factor while keeping write
    * amplification O(1) amortized. A segment an older layout wrote as
    * `seg=N/{bands,sigs}` stays readable: the reader opens only `sigs`.
    *
    * Replay (exactly-once): a replayed batch N re-reads manifest
    * v=N−1 — its original input state — and idempotently overwrites
    * seg=N + manifest v=N. GC keeps every segment referenced by the
    * last two manifests and deletes the rest, so a crash between the
    * segment write and the checkpoint commit never orphans state the
    * replay needs.
    *
    * PRECONDITION: `doc_id` is unique within a micro-batch — it is the
    * key the gate suppresses, emits and stores by. It is not checked:
    * an exact check is a shuffle of the batch by doc_id, the cost the
    * one-pass band frame exists to avoid. A batch that repeats a doc_id
    * still suppresses and emits by doc_id (every row of it shares one
    * fate), but the store keeps one signature row per repeated row until
    * the horizon expires them.
    *
    * 100 TB shape: everything is equi-joins on (band, bucket) plus
    * narrow signature maps; the store is a bounded set of immutable
    * parquet segments behind a bounded manifest.
    */
  def nearDupGate(stream: DataFrame, storeDir: String, outDir: String,
                  checkpointDir: String,
                  threshold: Double = 0.5,
                  horizonSec: Long = 600L,
                  numHashes: Int = 64, rowsPerBand: Int = 4, n: Int = 3,
                  trigger: Trigger = Trigger.AvailableNow(),
                  maxSegments: Int = 16): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupGateBatch(batch, batchId, storeDir, outDir, threshold,
          horizonSec, numHashes, rowsPerBand, n, maxSegments)
      }
      .start()

  /** One micro-batch of the near-dup gate (exposed for direct testing —
    * same reason StreamingExport.writeBatch is). The batch's band frame
    * is ONE narrow projection — (doc_id, ts, sig) exploded into band
    * rows — and the store's band rows are derived from its `sigs`
    * segments by the same explode, so both sides of the bucket join
    * carry their signatures and nothing is joined back on doc_id.
    * `batch` must hold each doc_id once (the precondition on
    * [[nearDupGate]]). Segment + manifest land inside seg=N / manifest/v=N before the
    * checkpoint commits, so a crash between them replays the whole
    * batch idempotently (see the layout note on [[nearDupGate]]). */
  def nearDupGateBatch(batch: DataFrame, batchId: Long,
                       storeDir: String, outDir: String,
                       threshold: Double, horizonSec: Long,
                       numHashes: Int, rowsPerBand: Int, n: Int,
                       maxSegments: Int = 16): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val bands = Dedup.bandRows(
      batch.select(col("doc_id"), col("ts"),
        Dedup.minHashSig(col("text"), n, numHashes).as("sig")),
      numHashes, rowsPerBand, SigCols).persist()
    val (replayVer, manifest) = resolveManifest(spark, storeDir, batchId)
    val storeBands = Dedup.bandRows(liveSigs(spark, storeDir, manifest),
      numHashes, rowsPerBand, SigCols)

    // estimated Jaccard between two signatures: fraction of agreeing
    // minhash entries (exact arithmetic; deterministic). Native
    // codegen'd agreement count (round 18) — the HOF fold it replaces
    // ran interpreted once per candidate pair inside the join filters
    def sigAgree(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.longArrayAgree(a, b)
        .cast("double") / numHashes

    // cross-batch hits: share a bucket with a stored survivor whose
    // signature agreement clears the threshold. Persisted: both the
    // suppressed set and the in-batch suppressor side consume it, and
    // the planner gives the two copies different build sides, so
    // without the cache the store is scanned and joined twice
    val storeHits = bands.as("x").join(storeBands.as("s"),
        col("x.band") === col("s.band") && col("x.bucket") === col("s.bucket"))
      .filter(sigAgree(col("x.sig"), col("s.sig")) >= threshold)
      .select(col("x.doc_id")).distinct().persist()

    // in-batch hits: same bucket as an EARLIER batch doc ((ts, doc_id)
    // order), signature-verified — the earlier doc is the survivor.
    // Store-suppressed docs are excluded from the suppressor (y) side:
    // a doc that will not be emitted must not knock out others (its
    // stored twin may not be within threshold of them — near-dup
    // similarity is not transitive). Within the batch itself the chain
    // IS greedy: doc C suppressed by B is still a valid suppressor of D,
    // matching the batch path's single-pass pair semantics; the
    // documented trade is possible over-suppression along in-batch
    // chains, bounded by one micro-batch.
    val inBatchSuppressors = bands.join(storeHits, Seq("doc_id"), "left_anti")
    val inBatchHits = bands.as("x").join(inBatchSuppressors.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          (col("y.ts") < col("x.ts") ||
            (col("y.ts") === col("x.ts") && col("y.doc_id") < col("x.doc_id"))))
      .filter(sigAgree(col("x.sig"), col("y.sig")) >= threshold)
      .select(col("x.doc_id")).distinct()

    // batch max event time rides the survivors write as an observed
    // metric — the left side of a left_anti join scans every batch row,
    // so the metric is complete and costs no extra driver job (the old
    // form ran a separate agg(max).head() job per micro-batch)
    val obs = org.apache.spark.sql.Observation(s"neardup_gate_$batchId")
    // the suppressed doc_id set is tiny (≤ batch cardinality) but its
    // SUBPLAN runs both bucket joins — persist it so the survivors
    // write and the segment build don't each re-run them
    val suppressed = storeHits.union(inBatchHits).distinct().persist()
    batch
      .observe(obs, max(col("ts")).as("max_ts"))
      .join(suppressed, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

    val maxTs = obs.get("max_ts").asInstanceOf[java.sql.Timestamp]
    val cutoff = new java.sql.Timestamp(maxTs.getTime - horizonSec * 1000L)
    // every live segment's effective cutoff rises to this batch's —
    // the running max keeps "once pruned, gone forever" even when event
    // time regresses across batches; a segment whose max_ts fell behind
    // its cutoff is fully expired and leaves the manifest with ZERO IO
    // — the horizon biting IS the cheap compaction
    val raised = manifest.map { s =>
      val eff = new java.sql.Timestamp(
        math.max(s.effCutoff.getTime, cutoff.getTime))
      s.copy(effCutoff = eff)
    }.filter(s => s.maxTs.after(s.effCutoff))
    // append-only commit: THIS batch's survivors land as an immutable
    // segment — O(batch) write, never O(store). One signature row per
    // surviving doc: every signed doc has exactly one band-0 row (doc_id
    // is unique in the batch — the precondition on nearDupGate), so the
    // persisted band frame yields the sigs without a shuffle
    val segSigs = bands.filter(col("band") === 0)
      .join(suppressed, Seq("doc_id"), "left_anti")
      .filter(col("ts") > cutoff)
      .select(SigSchema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    val segDir = s"$storeDir/seg=$batchId/sigs"
    val newManifest =
      if (raised.size + 1 > maxSegments) {
        // physical compaction (rare): all live rows fold into seg=N —
        // bounds read fan-in at maxSegments and dead-row disk at a
        // constant factor; amortized write stays O(batch)
        liveSigs(spark, storeDir, raised).unionByName(segSigs)
          .write.mode("overwrite").parquet(segDir)
        Seq(StoreSegment(batchId, new java.sql.Timestamp(
          (maxTs.getTime +: raised.map(_.maxTs.getTime)).max), cutoff))
      } else {
        segSigs.write.mode("overwrite").parquet(segDir)
        raised :+ StoreSegment(batchId, maxTs, cutoff)
      }
    writeManifest(spark, storeDir, batchId, newManifest)
    bands.unpersist()
    storeHits.unpersist(blocking = false)
    suppressed.unpersist(blocking = false)

    // GC: batch N+1 reads manifest v=N; a replayed batch N re-reads
    // the one this batch read — so every segment those two manifests
    // reference must stay, and nothing else can ever be read again.
    // Older manifests are dropped with them.
    pruneStore(spark, storeDir, batchId, replayVer,
      (newManifest ++ manifest).map(_.seg).toSet)
  }

  /** One live-segment row of the store manifest: the segment's id, its
    * max event time (expiry check), and its effective cutoff (the
    * running max of every horizon cutoff applied since it committed —
    * rows at or before it are dead). */
  private[graft] case class StoreSegment(seg: Long,
                                             maxTs: java.sql.Timestamp,
                                             effCutoff: java.sql.Timestamp)

  /** The schema of a segment's `sigs` table: written cast to it, read
    * with it. */
  private val SigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("sig", ArrayType(LongType))))

  private val SigCols: Seq[String] = SigSchema.fieldNames.toSeq

  /** Union of the live segments' signature rows, each filtered to its
    * OWN effective cutoff (per-segment running max — see the layout
    * note on [[nearDupGate]]). */
  private def liveSigs(spark: SparkSession, storeDir: String,
                       segs: Seq[StoreSegment]): DataFrame =
    segs.map { s =>
      spark.read.schema(SigSchema).parquet(s"$storeDir/seg=${s.seg}/sigs")
        .filter(col("ts") > lit(s.effCutoff))
    }.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), SigSchema))

  /** The live band rows of the store state batch `batchId` would read
    * (largest manifest strictly below it, per-segment cutoffs applied),
    * banded as the gate's defaults band them (64 hashes, 4 rows per
    * band) — the ops/spec surface for "what did batch N actually
    * consult". Output: (doc_id, ts, sig, band, bucket). */
  private[graft] def storeStateFor(spark: SparkSession, storeDir: String,
                                   batchId: Long): DataFrame =
    Dedup.bandRows(liveSigs(spark, storeDir,
      readManifest(spark, storeDir, batchId)), 64, 4, SigCols)

  /** Live segments of the largest committed manifest strictly below
    * `batchId`; empty when the store has no usable manifest yet. */
  private[graft] def readManifest(spark: SparkSession, storeDir: String,
                                      batchId: Long): Seq[StoreSegment] =
    resolveManifest(spark, storeDir, batchId)._2

  /** The version of a `manifest/` entry named `v=N`. */
  private def manifestVersion(name: String): Option[Long] =
    if (name.startsWith("v=")) scala.util.Try(name.drop(2).toLong).toOption
    else None

  /** The largest committed manifest version strictly below `batchId`
    * and its live segments; (None, empty) when there is none.
    *
    * The manifest is ≤ maxSegments rows — it is read and written
    * DRIVER-SIDE as a single tab-separated file (round 16; a Spark job
    * per manifest read/write was a fixed per-micro-batch cost that
    * dominated at small batches and buys nothing at any scale: the
    * manifest is bounded by `maxSegments`, never by data volume). */
  private def resolveManifest(
      spark: SparkSession, storeDir: String,
      batchId: Long): (Option[Long], Seq[StoreSegment]) = {
    val root = new org.apache.hadoop.fs.Path(s"$storeDir/manifest")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version =
      if (!fs.exists(root)) None
      else fs.listStatus(root)
        .flatMap(st => manifestVersion(st.getPath.getName))
        .filter(_ < batchId).maxOption
    val segs = version.fold(Seq.empty[StoreSegment]) { v =>
      val in =
        fs.open(new org.apache.hadoop.fs.Path(s"$storeDir/manifest/v=$v"))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      lines.filter(_.nonEmpty).map { ln =>
        val f = ln.split('\t')
        StoreSegment(f(0).toLong,
          new java.sql.Timestamp(f(1).toLong),
          new java.sql.Timestamp(f(2).toLong))
      }.sortBy(_.seg)
    }
    (version, segs)
  }

  /** Driver-side single-file manifest commit: write to a dot-prefixed
    * temp (invisible to the `v=` listing) then rename into place, so a
    * reader never sees a torn manifest. */
  private def writeManifest(spark: SparkSession, storeDir: String,
                            batchId: Long,
                            segs: Seq[StoreSegment]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$storeDir/manifest/.v=$batchId.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$storeDir/manifest/v=$batchId")
    val out = fs.create(tmp, true)
    try out.write(segs.map(s =>
        s"${s.seg}\t${s.maxTs.getTime}\t${s.effCutoff.getTime}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(dst, true)
    fs.rename(tmp, dst)
    ()
  }

  /** GC after manifest v=`batchId` commits: keep the segments in
    * `keep` (those referenced by v=batchId, which serves batch N+1, and
    * by the manifest batch N read, which serves a replay of batch N),
    * those two manifests, and delete the rest. The replay-input version
    * `replayVer` is the RESOLVED one (the largest v < batchId), NOT
    * assumed to be batchId−1: an empty micro-batch is skipped without
    * writing a manifest, so version gaps are normal and a numeric
    * batchId−1 rule would delete the very manifest a crash-replay of
    * batch N needs (re-admitting duplicates). Deletion failures and
    * foreign entries are non-fatal — a leftover is never read, only
    * re-collected next batch. */
  private def pruneStore(spark: SparkSession, storeDir: String,
                         batchId: Long, replayVer: Option[Long],
                         keep: Set[Long]): Unit = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rm(p: org.apache.hadoop.fs.Path): Unit =
      try { fs.delete(p, true); () }
      catch { case _: java.io.IOException => () }
    val keepVers: Set[Long] = Set(batchId) ++ replayVer
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("seg=")) {
        // foreign entries (seg=<non-numeric>, unrelated files) are
        // ignored like any other GC failure — never fail the batch
        val seg = scala.util.Try(nm.drop(4).toLong).toOption
        if (seg.exists(s => !keep.contains(s))) rm(st.getPath)
      }
    }
    val mroot = new org.apache.hadoop.fs.Path(s"$storeDir/manifest")
    if (fs.exists(mroot)) fs.listStatus(mroot).foreach { st =>
      val ver = manifestVersion(st.getPath.getName)
      if (ver.exists(v => !keepVers.contains(v))) rm(st.getPath)
    }
  }

  /** The CURRENT live store contents (latest manifest) as (band rows
    * banded like [[storeStateFor]], signature rows) — the spec's window
    * into state boundedness; not used by the gate itself. */
  private[graft] def storeContents(spark: SparkSession,
                                   storeDir: String): (DataFrame, DataFrame) = {
    val sigs = liveSigs(spark, storeDir,
      readManifest(spark, storeDir, Long.MaxValue))
    (Dedup.bandRows(sigs, 64, 4, SigCols), sigs)
  }
}
