package graft

import graft.operators._
import graft.config.ExportConfig
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Registry: similarity / ANN search and the multimodal columns —
  * extracted verbatim from SparkEntry (round 12 split). */
private[graft] trait RegistrySimilarity { this: SparkEntry.type =>

  // ---- serve dirs (see SessionArtifacts): trained once per data dir,
  // persisted, and read by every invocation of the serve keys below

  /** The trained IVF coarse quantizer (16 lists, 2 Lloyd's iterations
    * over the full corpus): one artifact serves every IVF key that reads
    * a persisted quantizer, so none of them times a re-train. */
  private[graft] val ivfQuantizerDir = serveDir("ivf_centroids") { (s, d, dir) =>
    Similarity.saveCentroids(Similarity.trainCentroids(
      Similarity.prepared(Tables.embeddings(s, d)), nlist = 16, iters = 2), dir)
  }

  /** The raw-vector PQ codebook served by sim_ann_ivfpq. */
  private[graft] val ivfPqCodebookDir = serveDir("ivfpq_codebook") { (s, d, dir) =>
    Similarity.saveCodebook(
      Similarity.trainPqCodebook(Tables.embeddings(s, d)), dir)
  }

  /** The RESIDUAL PQ codebook served by sim_ann_ivfpq_residual (round 18,
    * VERDICT r17 item 4): trained against the shared coarse quantizer,
    * so it differs from [[ivfPqCodebookDir]] by construction (codes
    * quantize v − c(v)). */
  private[graft] val ivfPqResidualCbDir = serveDir("ivfpq_residual_cb") { (s, d, dir) =>
    Similarity.saveCodebook(
      Similarity.trainResidualPqCodebook(Tables.embeddings(s, d),
        Similarity.loadCentroids(s, ivfQuantizerDir(s, d))), dir)
  }

  /** The persisted HNSW index served by sim_ann_hnsw_served. */
  private[graft] val hnswIndexDir = serveDir("hnsw_index") { (s, d, dir) =>
    GraphAnn.buildHnswIndex(Tables.embeddings(s, d), dir)
  }

  /** The upserted IVF index served by sim_ann_index_upsert: the
    * quantizer (`centroids/`) trains on the base corpus (vec_id <
    * 3·max/4), the CODES relation (`codes/`) is built from the base and
    * the delta is encoded against the frozen quantizer and appended —
    * the incremental-maintenance path. */
  private[graft] val ivfUpsertDir = serveDir("ivf_upsert") { (s, d, dir) =>
    val emb = Tables.embeddings(s, d)
    val maxRow = emb.agg(max(col("vec_id"))).head
    val t = if (maxRow.isNullAt(0)) 0L else 3L * maxRow.getLong(0) / 4L
    Similarity.saveCentroids(
      Similarity.trainCentroids(
        Similarity.prepared(emb.filter(col("vec_id") < t)),
        nlist = 16, iters = 2),
      s"$dir/centroids")
    val cent = Similarity.loadCentroids(s, s"$dir/centroids")
    Similarity.ivfCodes(emb.filter(col("vec_id") < t), cent)
      .write.mode("overwrite").parquet(s"$dir/codes")
    // the incremental upsert: delta-only encode, appended
    Similarity.ivfCodes(emb.filter(col("vec_id") >= t), cent)
      .write.mode("append").parquet(s"$dir/codes")
  }

  protected def similarityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Group B: similarity search -------------------------------------

    // B3 sim_topk: brute-force cosine top-k, quantized (full oracle).
    "sim_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d))),

    // MIPS top-k (round 11): the recommendation-serving ranking —
    // exact integer dot, magnitude matters, ties replay in BIGINT.
    "sim_mips_topk" -> ((s, d) =>
      Similarity.mipsTopK(Tables.embeddings(s, d))),

    // LSH-bucketed ANN top-k: the scale path. Same portable LCG
    // hyperplanes as dedup_embedding_lsh — full DuckDB oracle for the
    // candidate lookup + exact rerank; recall spec vs sim_topk besides.
    "sim_ann_lsh" -> ((s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d))),

    // Range/radius search (round 11): the threshold dual of top-k —
    // everything within cosine >= 0.3, per-query aggregate with
    // structural zeros. Same bucket machinery + recall caveats as
    // sim_ann_lsh.
    "sim_range_search" -> ((s, d) =>
      Similarity.rangeSearch(Tables.embeddings(s, d))),

    // Multi-probe LSH (round 10, Lv et al. 2007): each query probes its
    // base bucket + every Hamming-1 neighbor per table — recovers the
    // one-hyperplane-away misses without extra corpus hash passes.
    // Candidates ⊇ sim_ann_lsh's (spec-asserted recall monotonicity);
    // same exact integer arithmetic → full oracle.
    "sim_ann_lsh_multiprobe" -> ((s, d) =>
      Similarity.annTopKMultiProbe(Tables.embeddings(s, d))),

    // ANN recall audit (round 12): hits of each LSH leg against the
    // brute-force ground truth as integer ppm — the "measure, don't
    // guess" number as a first-class query (see recallReport scaladoc).
    "sim_recall_report" -> ((s, d) =>
      Similarity.recallReport(Tables.embeddings(s, d))),

    // Rank-biased overlap audit (round 17): ORDER-aware ANN quality —
    // truncated RBO@10 (p = 0.9) of the LSH list against the exact
    // list, per query; recall counts set hits, RBO discounts by depth
    // (see rboAudit's scaladoc).
    "sim_rbo_audit" -> ((s, d) =>
      Similarity.rboAudit(Tables.embeddings(s, d))),

    // Trained-index recall (round 12): the SAME audit over the SERVED
    // IVF plan — the memoized persisted quantizer, so the measured
    // recall is exactly what production serves.
    "sim_recall_report_ivf" -> ((s, d) => {
      Similarity.recallRows(Tables.embeddings(s, d), Seq(
        "ivf_served" -> Similarity.ivfTopKWith(Tables.embeddings(s, d),
          Similarity.loadCentroids(s, ivfQuantizerDir(s, d)))))
    }),

    // IVF probe-count sizing curve (round 16): the served-IVF recall
    // audit at nprobe 1/2/4 over the SAME persisted quantizer — the
    // latency-vs-recall dial an IVF deployment is sized by (the
    // embed_recall_vs_bits pattern pointed at the coarse index).
    "sim_recall_probe_curve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cent = Similarity.loadCentroids(s, ivfQuantizerDir(s, d))
      Similarity.recallRows(emb, Seq(
        "ivf_p1" -> Similarity.ivfTopKWith(emb, cent, nprobe = 1),
        "ivf_p2" -> Similarity.ivfTopKWith(emb, cent, nprobe = 2),
        "ivf_p4" -> Similarity.ivfTopKWith(emb, cent, nprobe = 4)))
    }),

    // k-NN SELF-join (round 8): every vector's k nearest via the LSH
    // bucket scheme — bounded-bucket candidates, both orientations,
    // shuffle equi-joins, partial top-k. Nothing broadcasts the corpus.
    "sim_knn_join" -> ((s, d) =>
      Similarity.knnJoinLsh(Tables.embeddings(s, d))),

    // kNN label-probe accuracy (round 15): majority vote of the LSH
    // kNN neighbors vs the true label, no-candidate vectors reported
    // not dropped (see knnLabelAccuracy's scaladoc).
    "embed_knn_label_acc" -> ((s, d) =>
      Similarity.knnLabelAccuracy(Tables.embeddings(s, d))),

    // Sign-bit Hamming histogram (round 15): 63-bit sign signatures,
    // xor + bit_count over the LSH-bucketed pairs (see
    // signHammingHist's scaladoc).
    "embed_sign_hamming" -> ((s, d) =>
      Similarity.signHammingHist(Tables.embeddings(s, d))),

    // Binary-recall curve (round 15): Hamming ranking vs exact cosine
    // ground truth at 16/32/63-bit budgets (see signHammingRecall's
    // scaladoc).
    "embed_recall_vs_bits" -> ((s, d) =>
      Similarity.signHammingRecall(Tables.embeddings(s, d))),

    // IVF (inverted-file) ANN top-k: TRAINED coarse quantizer (2
    // deterministic Lloyd's iterations), nprobe-list candidate lookup,
    // exact rerank. Full DuckDB oracle since round 9: the fixed
    // iteration count unrolls into two SQL assignment+mean blocks
    // (sqlIvfTrained below); recall additionally spec-tested.
    "sim_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d))),

    // IVF SERVE path: train once PER SESSION → persist the quantizer →
    // load → query with NO training jobs in the plan. Bit-identical to
    // sim_ann_ivf by quantizer determinism (spec-checked), so it shares
    // sim_ann_ivf's unrolled-training oracle. The quantizer directory is a
    // per-process unique tempdir (no cross-run overwrite races) and is
    // memoized per data dir, so repeated invocations — and the bench's
    // min-of-2 — time the serve plan alone, the way a deployed IVF
    // index is actually used.
    "sim_ann_ivf_served" -> ((s, d) => {
      Similarity.ivfTopKWith(Tables.embeddings(s, d),
        Similarity.loadCentroids(s, ivfQuantizerDir(s, d)))
    }),

    // HNSW SERVE path (round 12): build the layered graph index once
    // per (session, dataset) → persist per-shard adjacency to parquet →
    // serve loads adjacency and beam-searches the bounded query set
    // with ZERO construction work in the plan (the sim_ann_ivf_served
    // doctrine for the graph-ANN family; the serve plan's only scan is
    // the index parquet — spec-asserted). Oracle: brute-force top-k.
    // The served search is EXACT at validation scale BY CONSTRUCTION,
    // not by tuning luck: efSearch=512 ≥ the sf0.01 corpus (500
    // vectors), so the beam's res-full termination can never fire
    // before every reachable node is visited — each shard search is
    // exhaustive over its layer-0 component (insertion keeps the NSW
    // connected; the equality is additionally spec-asserted on the
    // driver-gate fixture), the shard-merge of exact per-shard top-ks
    // is the exact global top-k, and scores are bit-equal to brute
    // force by the shared integer-quantized arithmetic. At corpus
    // scales beyond ef the search goes approximate — there the
    // recall/determinism specs govern, as with every ANN family here.
    "sim_ann_hnsw_served" -> ((s, d) => {
      GraphAnn.hnswServedTopK(hnswIndexDir(s, d), Tables.embeddings(s, d),
        efSearch = 512)
    }),

    // INCREMENTAL INDEX UPSERT (round 14) — the maintenance path every
    // served key's scaladoc promised: the quantizer trains on the BASE
    // corpus (vec_id < 3·max/4) and is then FROZEN; the persisted
    // CODES relation is built from the base and the doc-id-ranged
    // delta is UPSERTED by encoding ONLY the delta against the frozen
    // quantizer and appending — no full-corpus re-encode anywhere
    // (the delta encode's scan carries a pushed vec_id range filter;
    // spec-asserted). The serve plan reads codes + corpus, running no
    // encode job at all. Hash-matches the from-scratch rebuild on the
    // unioned corpus because pointwise assignment under a fixed
    // quantizer distributes over the split — exactly the identity that
    // makes IVF codes incrementally maintainable at 100 TB.
    "sim_ann_index_upsert" -> ((s, d) => {
      val dir = ivfUpsertDir(s, d)
      Similarity.ivfServeWithCodes(Tables.embeddings(s, d),
        Similarity.loadCentroids(s, s"$dir/centroids"),
        s.read.parquet(s"$dir/codes"))
    }),

    // HNSW BUILD oracle (round 13) — construction itself under the
    // driver's full oracle, closing the last spec-only compute family:
    // a single-shard fixture (vec_id < 40, coalesce(1)) built with
    // efConstruction = 48 ≥ N, which makes every construction beam
    // EXHAUSTIVE over its layer's reachable set — so each insert's
    // links are exactly the top-cap prior nodes at that layer by
    // (cos DESC, id ASC), and every trim is a uniform top-cap filter
    // on the owner's directed list. The oracle replays the 39 inserts
    // as an unrolled CTE fold (the IVF-training doctrine). Caps bite
    // at this size (m=4 → layer-0 cap 8 over up to 39 candidates), so
    // link truncation AND trims are exercised, not vacuous. Premise
    // pinned by the parity itself: each layer's graph stays connected
    // under trims on this fixture (a disconnection would diverge the
    // replay and fail the hash compare). Output: the persisted
    // adjacency as (vec_id, lev, nb_id) rows, canonically ordered —
    // neighbor-list ORDER is deliberately out of contract (beam
    // results never depend on it; search explores whole lists).
    "sim_ann_hnsw_build" -> ((s, d) => {
      val dir = queryDir("hnsw_build") + "/idx"
      GraphAnn.buildHnswIndex(
        Tables.embeddings(s, d).filter(col("vec_id") < 40).coalesce(1),
        dir, m = 4, efConstruction = 48, maxLevel = 6)
      val idx = s.read.parquet(dir)
      val ids = idx.select(col("pos").as("nb_pos"), col("vec_id").as("nb_id"))
      idx.select(col("vec_id"), posexplode(col("adj")))
        .select(col("vec_id"), col("pos").cast("long").as("lev"),
          explode(col("col")).as("nb_pos"))
        .join(ids, "nb_pos")
        .select(col("vec_id"), col("lev"), col("nb_id"))
        .orderBy(col("vec_id"), col("lev"), col("nb_id"))
    }),

    // HNSW incremental upsert (round 14): the base (vec_id < 30)
    // builds and persists; the doc-id-ranged delta (30..39) INSERTS
    // into the loaded shard — construction is a left fold over the
    // sorted id sequence, so the upserted state is BIT-IDENTICAL to
    // the from-scratch rebuild on the union, which is what the oracle
    // replays (the same unrolled 40-node CTE as sim_ann_hnsw_build).
    // See upsertHnswIndex's scaladoc for the fold identity.
    "sim_ann_hnsw_upsert" -> ((s, d) => {
      val base = queryDir("hnsw_upsert")
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 40)
      GraphAnn.buildHnswIndex(emb.filter(col("vec_id") < 30).coalesce(1),
        s"$base/idx", m = 4, efConstruction = 48, maxLevel = 6)
      GraphAnn.upsertHnswIndex(s"$base/idx",
        emb.filter(col("vec_id") >= 30).coalesce(1), s"$base/idx2",
        m = 4, efConstruction = 48, maxLevel = 6)
      val idx = s.read.parquet(s"$base/idx2")
      val ids = idx.select(col("pos").as("nb_pos"), col("vec_id").as("nb_id"))
      idx.select(col("vec_id"), posexplode(col("adj")))
        .select(col("vec_id"), col("pos").cast("long").as("lev"),
          explode(col("col")).as("nb_pos"))
        .join(ids, "nb_pos")
        .select(col("vec_id"), col("lev"), col("nb_id"))
        .orderBy(col("vec_id"), col("lev"), col("nb_id"))
    }),

    // IVF serve plumbing under the FULL oracle: deterministic seed
    // centroids (the nlist corpus vectors with smallest md5(vec_id) —
    // no Lloyd's iterations), so list assignment, nprobe lookup and
    // exact rerank are all DuckDB-replayable. Historically this proved
    // the serve tail before the trained path got its own unrolled
    // oracle (round 9); kept as the training-free control — a fixed-vs-
    // trained divergence isolates the Lloyd's blocks immediately.
    "sim_ann_ivf_fixed" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), trainIters = 0)),

    // IVF list-balance audit (round 13): per-centroid occupancy under
    // the fixed seed quantizer — the number that sizes nlist/nprobe,
    // the IVF analog of dedup_lsh_band_stats (see ivfListBalance's
    // scaladoc). Zero-occupancy lists keep structural rows.
    "embed_ivf_balance" -> ((s, d) =>
      Similarity.ivfListBalance(Tables.embeddings(s, d))),

    // Mean-pool per-document embedding aggregation (round 9): one vector
    // per label from its chunk vectors, exact integer domain end-to-end.
    // The pooled array itself is spec-checked; the registered row carries
    // its md5 digest + exact norm (portable across engines, and the
    // oracle gate's canonical sort can't order raw array columns).
    // INT8 per-vector quantization (round 9): FAISS-SQ8-style affine
    // codes over each vector's own range, ALL integer arithmetic —
    // range, code checksum, saturation and reconstruction error per
    // vector, the index auditor's compression report.
    "embed_quantize" -> ((s, d) =>
      Similarity.int8Quantize(Tables.embeddings(s, d))),

    // Quantization error curve (round 12): reconstruction error vs bit
    // width from one pass (see quantizeCurve's scaladoc).
    "embed_quantize_curve" -> ((s, d) =>
      Similarity.quantizeCurve(Tables.embeddings(s, d))),

    // PRODUCT QUANTIZATION (round 11): per-subspace codebooks trained
    // with unrolled integer-L2 Lloyd's (Jégou et al. 2011), corpus
    // encoded by broadcast-join assignment; the per-(subspace, code)
    // occupancy + exact squared-error report. 32x compression is the
    // RAM-resident-index primitive at corpus scale.
    "embed_pq" -> ((s, d) =>
      Similarity.pqCodebookStats(Tables.embeddings(s, d))),

    // Top-2 PCA (round 12): deflated integer power iteration — the
    // 2-D projection basis + both Rayleigh quotients + the exact
    // orthogonality audit; full unrolled oracle.
    "embed_pca2" -> ((s, d) =>
      Similarity.pca2(Tables.embeddings(s, d))),

    // Nearest-centroid confusion matrix (round 11): per-label exact-
    // integer centroids, integer-L2 argmin classify, <= labels^2 counts
    // — the embedding-quality eval a training run tracks.
    "embed_centroid_classify" -> ((s, d) =>
      Similarity.centroidClassify(Tables.embeddings(s, d))),

    // Embedding outlier gate (round 13): distance-to-own-centroid
    // share past 4x the label mean — the off-manifold filter (see
    // embeddingOutliers' scaladoc).
    "embed_outlier" -> ((s, d) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, d))),

    // IVF-PQ serving (round 11): the FAISS-architecture composite —
    // coarse lists prune, m-byte PQ codes rank by exact-integer ADC
    // (broadcast per-query distance table), ADC shortlist → exact
    // rerank. Reads the SAME persisted quantizer as sim_ann_ivf_served
    // (identical training contract): one trained artifact serves both
    // ANN families, so the bench times PQ encode + serve, not a
    // re-train.
    // IVF inertia audit (round 13): per-centroid member count + exact
    // SSE of the SAME persisted quantizer the serve keys read (see
    // ivfInertiaWith's scaladoc).
    "embed_ivf_inertia" -> ((s, d) => {
      Similarity.ivfInertiaWith(Tables.embeddings(s, d),
        Similarity.loadCentroids(s, ivfQuantizerDir(s, d)))
    }),

    "sim_ann_ivfpq" -> ((s, d) => {
      Similarity.ivfpqTopKWith(Tables.embeddings(s, d),
        Similarity.loadCentroids(s, ivfQuantizerDir(s, d)),
        codebook0 = Some(s.read.parquet(ivfPqCodebookDir(s, d))))
    }),

    // RESIDUAL-coded IVF-PQ (round 12; SERVED round 18): the FAISS
    // default — codes quantize v − c(v) against the assigned coarse
    // centroid; the ADC table goes per-(query, probed list). Both
    // training artifacts are serve dirs per (process, dataset) — the
    // shared coarse quantizer (ivfQuantizerDir) and the residual
    // codebook (ivfPqResidualCbDir) — so the measured plan is the
    // deployed serve shape: encode + ADC + rerank, zero training jobs
    // (sim_ann_ivf_served doctrine). Training determinism keeps the
    // served output bit-identical to the in-session form
    // (spec-asserted), so the full composite still replays in the
    // unrolled-training oracle.
    "sim_ann_ivfpq_residual" -> ((s, d) => {
      Similarity.ivfpqResidualTopK(Tables.embeddings(s, d),
        scope = harnessScope,
        centroids0 = Some(Similarity.loadCentroids(s, ivfQuantizerDir(s, d))),
        residualCodebook0 = Some(s.read.parquet(ivfPqResidualCbDir(s, d))))
    }),

    // Per-dimension drift between corpus halves (round 15): exact
    // rational mean shift per dim (see dimDrift's scaladoc).
    "embed_dim_drift" -> ((s, d) =>
      Similarity.dimDrift(Tables.embeddings(s, d))),

    // Norm profile per label (round 15): count/min/max/mean of the
    // quantized squared norm — the broken-encoder tell (see
    // normByLabel's scaladoc).
    "embed_norm_by_label" -> ((s, d) =>
      Similarity.normByLabel(Tables.embeddings(s, d))),

    // Label-centroid cosine matrix (round 15): exact class-separation
    // scorecard via the n-cancellation on integer sum vectors (see
    // centroidCosMatrix's scaladoc).
    "embed_centroid_cosmatrix" -> ((s, d) =>
      Similarity.centroidCosMatrix(Tables.embeddings(s, d))),

    "embed_meanpool" -> ((s, d) => {
      val mp = Similarity.meanPoolEmbeddings(Tables.embeddings(s, d))
      mp.select(col("doc_key").as("label"), col("n_chunks"),
          col("pooled_nrm"),
          md5(array_join(transform(col("pooled"), x => x.cast("string")), ","))
            .as("pooled_sig"))
        .orderBy(col("label"))
    }),

    // Dimension covariance/correlation matrix (round 14): exact
    // upper-triangle accumulation via one nested-transform HOF, corr
    // through the via-string bridge (see covarianceMatrix's scaladoc).
    "embed_covariance" -> ((s, d) =>
      Similarity.covarianceMatrix(Tables.embeddings(s, d))),

    // Per-label split-half centroid drift (round 14): cosine of the
    // integer SUM vectors over even/odd vec_ids — the re-encode
    // stability monitor (see centroidDrift's scaladoc).
    "embed_centroid_drift" -> ((s, d) =>
      Similarity.centroidDrift(Tables.embeddings(s, d))),

    // ---- Group B: multimodal columns ------------------------------------

    // Binary media payload + typed metadata + (stub) feature extraction.
    "multimodal_meta" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.ingest(Tables.documents(s, d)))
        .orderBy(col("doc_id"))),

    // Frame-index fan-out (explode over a media-derived sequence).
    "multimodal_framesample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.ingest(Tables.documents(s, d)))),

    // mapPartitions decode harness with a REAL codec: synthesize a
    // 24-bit BMP per doc, decode it back with the JDK's independent
    // ImageIO BMP reader, emit pixel stats the oracle replays
    // analytically (px_posw is position-weighted: a flipped bottom-up
    // row order cannot pass).
    "multimodal_decode" -> ((s, d) =>
      Multimodal.decodePartitions(s, Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Second image codec (round 7): hand-built 8-bit grayscale PNGs —
    // authored container + filter bytes + CRCs, zlib from
    // java.util.zip — decoded back through ImageIO's independent PNG
    // reader (inflate, CRC check, defilter). Raster-band samples, so
    // no gray→sRGB gamma can corrupt the analytic replay.
    "multimodal_decode_png" -> ((s, d) =>
      Multimodal.decodeGrayPartitions(s, Multimodal.ingestPng(Tables.documents(s, d)))),

    // Nearest-neighbor resize to a 4x4 thumbnail in the same codec
    // harness — exact integer resampling, analytically replayable.
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizePartitions(s, Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Center crop (round 13): the third spatial-preprocess member —
    // fixed central window with oracle-checked offsets (see
    // cropCenterPartitions' scaladoc).
    "multimodal_crop" -> ((s, d) =>
      Multimodal.cropCenterPartitions(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Rotate 90 CW (round 13): the other lossless augmentation — dims
    // swap, posw proves the index map (see rotate90Partitions'
    // scaladoc).
    "multimodal_rotate90" -> ((s, d) =>
      Multimodal.rotate90Partitions(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Horizontal flip (round 13): mirror augmentation — sum/min/max
    // flip-invariant (decode audit), posw is the mirror proof (see
    // flipHorizontalPartitions' scaladoc).
    "multimodal_flip" -> ((s, d) =>
      Multimodal.flipHorizontalPartitions(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Bilinear resize (round 7): half-pixel-center 2x2 blend in exact
    // integer fixed-point — stats are emitted SCALED by 64 = (2·4)·(2·4),
    // making the smooth kernel itself DuckDB-oracle-checkable.
    "multimodal_resize_bilinear" -> ((s, d) =>
      Multimodal.resizeBilinearPartitions(s, Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Audio modality, same doctrine as the BMP leg: hand-built RIFF/WAV
    // payloads decoded back through javax.sound's OWN parser; the oracle
    // replays the PCM arithmetic analytically, so encoder and decoder
    // must both be right for the hash to match.
    "multimodal_audio" -> ((s, d) =>
      Multimodal.decodeWavPartitions(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Windowed PCM energy (round 11): the audio FEATURE over the WAV
    // leg — 16-sample energy/peak windows for silence/clipping
    // curation; real javax.sound decode, analytic oracle.
    "multimodal_audio_rms" -> ((s, d) =>
      Multimodal.wavRmsWindows(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Peak normalization (round 13): sign-split integer gain to full
    // scale — the level-matching pass (see wavPeakNormalize's
    // scaladoc).
    "multimodal_audio_normalize" -> ((s, d) =>
      Multimodal.wavPeakNormalize(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Overlay mix with saturation (round 14): half-gain analytic tone
    // added per sample, clamped into int16 — the clipping branch a
    // modular add corrupts (see wavMixOverlay's scaladoc).
    "multimodal_audio_mix" -> ((s, d) =>
      Multimodal.wavMixOverlay(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Clipping detector (round 15): rail-band samples, longest run,
    // clip ppm — the source-signal QA gate (see wavClipDetect's
    // scaladoc).
    "multimodal_audio_clip" -> ((s, d) =>
      Multimodal.wavClipDetect(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Linear fade in/out (round 15): boundary gain ramps, exact
    // truncating integer gains, overlap rule for short clips (see
    // wavFade's scaladoc).
    "multimodal_audio_fade" -> ((s, d) =>
      Multimodal.wavFade(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Energy-gate VAD (round 14): voiced windows at the shared
    // mean-square threshold, run-length segment view (see
    // wavVadSegments' scaladoc).
    "multimodal_audio_vad" -> ((s, d) =>
      Multimodal.wavVadSegments(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // PCM autocorrelation (round 13): the periodicity primitive at
    // fixed lags, pure BIGINT — no FFT (see wavAutocorr's scaladoc).
    "multimodal_audio_autocorr" -> ((s, d) =>
      Multimodal.wavAutocorr(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Zero-crossing-rate profile (round 12): the voiced/unvoiced
    // discriminator off the real decode (see wavZeroCrossings'
    // scaladoc).
    "multimodal_audio_zcr" -> ((s, d) =>
      Multimodal.wavZeroCrossings(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Silence-trim/clipping segmentation (round 12): the curation
    // report ON the energy profile — silent/clipped window counts +
    // first/last active window per clip; integer thresholds.
    "multimodal_audio_trim" -> ((s, d) =>
      Multimodal.wavSilenceTrim(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // 2x linear upsample (round 13): real decode + integer-midpoint
    // interpolation; position-weighted digests (see wavResample2x's
    // scaladoc).
    "multimodal_audio_resample" -> ((s, d) =>
      Multimodal.wavResample2x(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Arbitrary-ratio polyphase resample (round 14): 2/3 rate (the
    // 48->32 kHz shape) via the exact fixed-point phase step — base =
    // (j*3) div 2, frac = (j*3) mod 2, integer interpolation (see
    // wavResamplePoly's scaladoc).
    "multimodal_audio_resample_poly" -> ((s, d) =>
      Multimodal.wavResamplePoly(s,
        Multimodal.ingestWav(Tables.documents(s, d)))),

    // Video-container leg (round 8): hand-authored ANIMATED GIF89a
    // (container + grayscale palette + the LZW stream itself), decoded
    // back through ImageIO's OWN multi-frame GIF reader; every 2nd frame
    // sampled and reduced to analytic pixel stats — frame fan-out joined
    // to a REAL container decode.
    "multimodal_frames_gif" -> ((s, d) =>
      Multimodal.decodeGifFramesPartitions(s,
        Multimodal.ingestGif(Tables.documents(s, d)))),

    // Scene-cut detection (round 11): per-consecutive-frame SAD over
    // the real GIF decode, integer threshold compare — the
    // shot-boundary pass a video curation pipeline samples around.
    "multimodal_scenecut" -> ((s, d) =>
      Multimodal.gifSceneCuts(s,
        Multimodal.ingestGif(Tables.documents(s, d)))),

    // Image entropy (round 11): gray-histogram concentration with the
    // bit-length surrogate — the content-vs-flat curation filter.
    "multimodal_entropy" -> ((s, d) =>
      Multimodal.imageEntropy(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Otsu binarization threshold (round 15): exact integer
    // between-class-variance argmax over the decoded gray histogram,
    // lowest-t tie break (see imageOtsu's scaladoc).
    "multimodal_otsu" -> ((s, d) =>
      Multimodal.imageOtsu(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Otsu-binarized mask digest (round 16): the threshold consumer —
    // foreground census + position-weighted geometry digest (see
    // imageOtsuBinarize's scaladoc).
    "multimodal_otsu_binarize" -> ((s, d) =>
      Multimodal.imageOtsuBinarize(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Run-length digest of the binarized mask (round 16): scanline
    // run census — n_runs, max_run, Σ len² (see imageOtsuRle's
    // scaladoc).
    "multimodal_rle" -> ((s, d) =>
      Multimodal.imageOtsuRle(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Foreground bounding box (round 16): crop-to-content box + exact
    // ppm fill ratio off the Otsu mask (see imageFgBbox's scaladoc).
    "multimodal_fg_bbox" -> ((s, d) =>
      Multimodal.imageFgBbox(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Histogram equalization (round 14): per-image CDF remap with the
    // classic integer formula, real-decoded pixels, position-weighted
    // digests (see imageHistEq's scaladoc).
    "multimodal_hist_eq" -> ((s, d) =>
      Multimodal.imageHistEq(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // ViT-style 2×2 patchify (round 14): even-cropped patch grid,
    // integer patch means, patch-sequence position-weighted digest
    // (see imagePatchify's scaladoc).
    "multimodal_patchify" -> ((s, d) =>
      Multimodal.imagePatchify(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Dataset normalization constants (round 13): per-source gray
    // mean/std over real-decoded pixels (see imageNormStats' scaladoc).
    "multimodal_norm_stats" -> ((s, d) =>
      Multimodal.imageNormStats(s,
        Multimodal.ingestBmp(Tables.documents(s, d)),
        Tables.documents(s, d))),

    // Sobel edge energy (round 14): integer |Gx|+|Gy| over real-decoded
    // interior pixels — oriented edges vs the Laplacian's curvature
    // (see imageSobel's scaladoc).
    "multimodal_sobel" -> ((s, d) =>
      Multimodal.imageSobel(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Blur/sharpness audit (round 12): integer Laplacian energy over
    // real-decoded interior pixels (see imageSharpness' scaladoc).
    "multimodal_blur" -> ((s, d) =>
      Multimodal.imageSharpness(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Letterbox/pillarbox detector (round 12): consecutive border-flat
    // row/column runs on the real decode (see letterboxReport's
    // scaladoc).
    "multimodal_letterbox" -> ((s, d) =>
      Multimodal.letterboxReport(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    // Lossy-codec leg under the hash oracle (round 9): real ImageIO JPEG
    // encode + decode, reduced to oracle-replayable exacts (dims, pixel
    // count, byte count) plus an integer error-band verdict the oracle
    // asserts TRUE — the lossy values themselves never hash.
    "multimodal_decode_jpeg" -> ((s, d) =>
      Multimodal.decodeJpegVerdict(s,
        Multimodal.ingestJpeg(Tables.documents(s, d)))),

    // Perceptual-hash image dedup (round 9): real ImageIO decode → 9×8
    // NN grid → dHash as four 16-bit bands → exact-fingerprint grouping
    // (canonical = min doc_id). The first dedup pass of an image lake:
    // narrow decode + one shuffle on the hash, dedup_exact lifted to
    // pixels. Oracle replays grid/bands/grouping analytically.
    "multimodal_dhash" -> ((s, d) =>
      Multimodal.dhashDedup(s, Multimodal.ingestBmp(Tables.documents(s, d)))),

    // DCT perceptual hash (round 11): the spectral fingerprint next to
    // dHash's gradients — fixed-point integer DCT basis + nearest-rank
    // AC median, so every bit replays in the oracle; engine side still
    // decodes the real BMP bytes through ImageIO.
    // pHash Hamming pairs (round 12): the documented second pass —
    // band-exact pigeonhole + exact bit_count verify (see
    // phashNearDupPairs' scaladoc).
    "multimodal_phash_pairs" -> ((s, d) =>
      Multimodal.phashNearDupPairs(s,
        Multimodal.ingestBmp(Tables.documents(s, d)))),

    "multimodal_phash" -> ((s, d) =>
      Multimodal.phashDedup(s, Multimodal.ingestBmp(Tables.documents(s, d))))
  )

  protected def similarityOracles: Map[String, String] = Map(
    "dedup_minhash" -> sqlMinHash,

    "dedup_minhash_est_error" -> sqlMinHashEstError,

    // calibration-histogram replay: uncapped pair enumeration over the
    // shared bucket CTE (cap never binds at oracle SF — the standing
    // relationship of every capped dedup oracle), identical IEEE
    // cosine, floor binning
    "dedup_embedding_cos_hist" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb FROM bk a " +
        "JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
        s"s AS (SELECT ${sqlCosFrag("x", "y")} AS cos " +
        "FROM cand c JOIN n x ON c.va = x.vec_id JOIN n y ON c.vb = y.vec_id) " +
        "SELECT CAST(floor(cos * 20) AS BIGINT) AS bin, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "MIN(cos) AS cos_min, MAX(cos) AS cos_max " +
        "FROM s WHERE NOT isnan(cos) GROUP BY 1 ORDER BY 1"),

    // band-occupancy replay: shared MinHash front + two aggregations
    "dedup_lsh_band_stats" ->
      (s"WITH $sqlMinHashBandsCtes, " +
        "bs AS (SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS sz " +
        "FROM bands GROUP BY 1, 2) " +
        "SELECT CAST(band AS BIGINT) AS band, COUNT(*) AS n_buckets, " +
        "CAST(SUM(sz) AS BIGINT) AS n_docs, CAST(MAX(sz) AS BIGINT) AS max_bucket, " +
        "CAST(SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets, " +
        "CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs " +
        "FROM bs GROUP BY band ORDER BY band"),

    "dedup_simhash" -> sqlSimHash,

    "dedup_embedding_lsh" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM bk a " +
        "JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
        s"SELECT c.vec_a, c.vec_b, ${sqlCosFrag("x", "y")} AS cos " +
        "FROM cand c JOIN n x ON c.vec_a = x.vec_id JOIN n y ON c.vec_b = y.vec_id " +
        "WHERE NOT isnan(cos) AND cos >= 0.4 ORDER BY vec_a, vec_b"),

    // IVF with fixed seed centroids: the quantizer is the 16 corpus
    // vectors with smallest (md5(vec_id), vec_id); assignment = argmax
    // cosine with smaller-cent_id tiebreak (Spark's max_by struct order
    // and ROW_NUMBER both rank NaN first, so zero-norm vectors land in
    // the same list in both engines); probes = each query's 4 best
    // lists; rerank = exact cosine over probed members.
    "sim_ann_ivf_fixed" ->
      (s"WITH $sqlQuantCte, " +
        "cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n " +
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
        "ac AS (SELECT n.vec_id, c.cent_id, " +
        "CAST(list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
        "FROM n, cent c), " +
        "asg AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac) " +
        "WHERE rn = 1), " +
        "probes AS (SELECT q_id, cent_id FROM (SELECT vec_id AS q_id, cent_id, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS pr " +
        "FROM ac WHERE vec_id < 10) WHERE pr <= 4), " +
        "cand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id FROM probes p " +
        "JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id != p.q_id), " +
        s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        "FROM s WHERE NOT isnan(cos)) " +
        "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 10 ORDER BY q_id, rank"),

    // Semantic dedup replay: the sim_ann_ivf_fixed centroid CTEs
    // (seed = 16 smallest-(md5, vec_id) vectors, argmax-cosine
    // assignment with NaN-first DESC + smaller-cent_id tiebreak),
    // then intra-cluster pairs a<b, exact quantized cosine ≥ 0.4,
    // greedy keep-lowest-id (vec_b of every pair is the duplicate).
    "dedup_semantic" ->
      (s"WITH $sqlQuantCte, " +
        "cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n " +
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
        "ac AS (SELECT n.vec_id, c.cent_id, " +
        "CAST(list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
        "FROM n, cent c), " +
        "asg AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac) " +
        "WHERE rn = 1), " +
        "pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM asg a " +
        "JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id), " +
        s"dup AS (SELECT pr.vec_b, ${sqlCosFrag("x", "y")} AS cos " +
        "FROM pr JOIN n x ON pr.vec_a = x.vec_id JOIN n y ON pr.vec_b = y.vec_id), " +
        "fl AS (SELECT vec_b AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_dup_of, " +
        "MAX(cos) AS max_cos FROM dup " +
        "WHERE NOT isnan(cos) AND cos >= 0.4 GROUP BY vec_b) " +
        "SELECT asg.vec_id, asg.cent_id, coalesce(fl.n_dup_of, 0) AS n_dup_of, " +
        "fl.max_cos AS max_cos, fl.vec_id IS NULL AS is_kept " +
        "FROM asg LEFT JOIN fl ON asg.vec_id = fl.vec_id ORDER BY asg.vec_id"),

    // SemDeDup prune replay: the same centroid CTEs, but the winning
    // cosine rides the assignment; keep-rank is ROW_NUMBER over the
    // (cluster, above-cap) partition — NaN/NULL cosines are never
    // 'above' (a degenerate vector is kept)
    "dedup_semantic_prune" ->
      (s"WITH $sqlQuantCte, " +
        "cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n " +
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
        "ac AS (SELECT n.vec_id, c.cent_id, " +
        "CAST(list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
        "FROM n, cent c), " +
        "asg AS (SELECT vec_id, cent_id, ccos FROM (SELECT vec_id, cent_id, ccos, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac) " +
        "WHERE rn = 1), " +
        "fl AS (SELECT vec_id, cent_id, ccos, " +
        "(ccos IS NOT NULL AND NOT isnan(ccos) AND ccos >= 0.35) AS above FROM asg), " +
        "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cent_id, above " +
        "ORDER BY ccos DESC, vec_id) AS krn FROM fl) " +
        "SELECT vec_id, cent_id, ccos AS c_cos, (NOT above) OR krn = 1 AS keep " +
        "FROM rk ORDER BY vec_id"),

    // Semantic contamination replay: dedup_semantic's centroid CTEs,
    // intra-cluster pairs oriented (test, train) across the md5 holdout
    // split, cosine >= 0.4 hits rolled up per test vector
    "contamination_semantic" ->
      (s"WITH $sqlQuantCte, " +
        "cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n " +
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
        "ac AS (SELECT n.vec_id, c.cent_id, " +
        "CAST(list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
        "FROM n, cent c), " +
        "asg AS (SELECT vec_id, cent_id, " +
        "substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test " +
        "FROM (SELECT vec_id, cent_id, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac) " +
        "WHERE rn = 1), " +
        "pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        "a.is_test AS ta, b.is_test AS tb FROM asg a " +
        "JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id), " +
        "cr AS (SELECT CASE WHEN ta THEN vec_a ELSE vec_b END AS t_id, " +
        "CASE WHEN ta THEN vec_b ELSE vec_a END AS n_id FROM pr WHERE ta != tb), " +
        s"h AS (SELECT cr.t_id, CAST(COUNT(*) AS BIGINT) AS nm, " +
        s"MAX(${sqlCosFrag("x", "y")}) AS mc " +
        "FROM cr JOIN n x ON cr.t_id = x.vec_id JOIN n y ON cr.n_id = y.vec_id " +
        s"WHERE NOT isnan(${sqlCosFrag("x", "y")}) " +
        s"AND ${sqlCosFrag("x", "y")} >= 0.4 GROUP BY cr.t_id) " +
        "SELECT a.vec_id AS test_vec, a.cent_id, " +
        "coalesce(h.nm, 0) AS n_train_matches, h.mc AS max_cos, " +
        "h.t_id IS NOT NULL AS contaminated " +
        "FROM asg a LEFT JOIN h ON a.vec_id = h.t_id WHERE a.is_test " +
        "ORDER BY test_vec"),

    // Mean-pool replay: exact BIGINT element sums via list_reduce (the
    // IVF-oracle technique), one double division per element, round
    // half-away back to the quantized domain; digest = md5 of the
    // comma-joined pooled vector (integer→string is format-identical in
    // both engines).
    // int8 quantization: pure integer replay — nonneg numerators make
    // DuckDB's flooring // and Spark's truncating DIV agree exactly
    "embed_quantize_curve" -> Similarity.sqlQuantizeCurve,

    "embed_quantize" ->
      ("WITH q AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings), " +
        "b AS (SELECT vec_id, CAST(len(q) AS BIGINT) AS n_dims, " +
        "list_min(q) AS mn, list_max(q) AS mx, q FROM q), " +
        "e AS (SELECT vec_id, n_dims, mn, mx, q, " +
        "unnest(range(1, len(q) + 1)) AS pos FROM b), " +
        "c AS (SELECT vec_id, n_dims, mn, mx, pos, q[pos] AS qi, " +
        "CASE WHEN mx = mn THEN 0 ELSE ((q[pos] - mn) * 255) // (mx - mn) END AS code " +
        "FROM e), " +
        "r AS (SELECT *, mn + CASE WHEN mx = mn THEN 0 " +
        "ELSE ((2 * code + 1) * (mx - mn) + 255) // 510 END AS recon FROM c) " +
        "SELECT vec_id, n_dims, mn, mx, " +
        "CAST(SUM(pos * code) AS BIGINT) AS code_checksum, " +
        "CAST(SUM(CASE WHEN code = 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated, " +
        "CAST(SUM(abs(qi - recon)) AS BIGINT) AS total_abs_err " +
        "FROM r GROUP BY 1, 2, 3, 4 ORDER BY vec_id"),

    // dim-drift replay: half split on (max+1)//2, HUGEINT exact
    // rational shift with the sign-split division
    "embed_dim_drift" ->
      ("WITH mx AS (SELECT (MAX(vec_id) + 1) // 2 AS m FROM embeddings), " +
        "q AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v " +
        "FROM embeddings WHERE embedding IS NOT NULL), " +
        "e AS (SELECT q.vec_id < mx.m AS lo, t.pos - 1 AS d, q.v[t.pos] AS x " +
        "FROM q, mx, (SELECT unnest(generate_series(1, 64)) AS pos) t " +
        "WHERE len(q.v) = 64), " +
        "a AS (SELECT d, " +
        "CAST(SUM(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo, " +
        "COALESCE(SUM(CASE WHEN lo THEN CAST(x AS HUGEINT) END), 0) AS s_lo, " +
        "CAST(SUM(CASE WHEN NOT lo THEN 1 ELSE 0 END) AS BIGINT) AS n_hi, " +
        "COALESCE(SUM(CASE WHEN NOT lo THEN CAST(x AS HUGEINT) END), 0) AS s_hi " +
        "FROM e GROUP BY 1) " +
        "SELECT CAST(d AS BIGINT) AS dim, n_lo, n_hi, " +
        "CAST(CASE WHEN n_lo = 0 OR n_hi = 0 THEN NULL " +
        "WHEN s_hi * n_lo - s_lo * n_hi < 0 " +
        "THEN -((-(s_hi * n_lo - s_lo * n_hi) * 1000000) // (n_lo * n_hi)) " +
        "ELSE ((s_hi * n_lo - s_lo * n_hi) * 1000000) // (n_lo * n_hi) END " +
        "AS BIGINT) AS shift_ppm FROM a ORDER BY dim"),

    // norm-profile replay: quantized squared norms, HUGEINT sum via
    // the string bridge, exact integer mean
    "embed_norm_by_label" ->
      ("WITH q AS (SELECT label, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v " +
        "FROM embeddings WHERE embedding IS NOT NULL), " +
        "n AS (SELECT label, CAST(list_sum(list_transform(v, x -> x*x)) " +
        "AS BIGINT) AS nrm FROM q), " +
        "g AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "MIN(nrm) AS min_nrm, MAX(nrm) AS max_nrm, " +
        "SUM(CAST(nrm AS HUGEINT)) AS sum_h FROM n GROUP BY 1) " +
        "SELECT label, n_vecs, min_nrm, max_nrm, " +
        "CAST(sum_h AS VARCHAR) AS sum_nrm, " +
        "CAST(sum_h // nullif(n_vecs, 0) AS BIGINT) AS mean_nrm " +
        "FROM g ORDER BY label"),

    // centroid-cosine replay: integer sum vectors (the n-cancellation),
    // HUGEINT dots/norms, one sqrt/div tail via the string bridge
    "embed_centroid_cosmatrix" ->
      ("WITH q AS (SELECT label, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v " +
        "FROM embeddings WHERE embedding IS NOT NULL), " +
        "e AS (SELECT q.label, t.pos - 1 AS d, q.v[t.pos] AS x FROM q, " +
        "(SELECT unnest(generate_series(1, 64)) AS pos) t " +
        "WHERE len(q.v) = 64), " +
        "s AS (SELECT label, d, SUM(CAST(x AS HUGEINT)) AS s, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), " +
        "nr AS (SELECT label, SUM(s * s) AS nn, " +
        "CAST(MAX(n) AS BIGINT) AS n_vecs FROM s GROUP BY 1), " +
        "dt AS (SELECT a.label AS label_a, b.label AS label_b, " +
        "SUM(a.s * b.s) AS dot_h FROM s a JOIN s b " +
        "ON a.d = b.d AND a.label < b.label GROUP BY 1, 2) " +
        "SELECT dt.label_a, dt.label_b, na.n_vecs AS n_a, nb.n_vecs AS n_b, " +
        "CAST(dt.dot_h AS VARCHAR) AS dot, " +
        "CASE WHEN na.nn <= 0 OR nb.nn <= 0 THEN NULL " +
        "ELSE CAST(CAST(dt.dot_h AS VARCHAR) AS DOUBLE) / " +
        "(sqrt(CAST(CAST(na.nn AS VARCHAR) AS DOUBLE)) * " +
        "sqrt(CAST(CAST(nb.nn AS VARCHAR) AS DOUBLE))) END AS cos " +
        "FROM dt JOIN nr na ON dt.label_a = na.label " +
        "JOIN nr nb ON dt.label_b = nb.label ORDER BY 1, 2"),

    "embed_meanpool" ->
      ("WITH q AS (SELECT label, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings), " +
        "g AS (SELECT label, COUNT(*) AS n_chunks, " +
        "list_reduce(list(v), (a,b) -> list_transform(list_zip(a,b), p -> p[1]+p[2])) AS sv " +
        "FROM q GROUP BY label), " +
        "p AS (SELECT label, n_chunks, " +
        "list_transform(sv, s -> CAST(round(CAST(s AS DOUBLE)/n_chunks) AS BIGINT)) AS pooled " +
        "FROM g) " +
        "SELECT label, n_chunks, " +
        "CAST(list_sum(list_transform(pooled, x -> x*x)) AS BIGINT) AS pooled_nrm, " +
        "md5(array_to_string(pooled, ',')) AS pooled_sig " +
        "FROM p ORDER BY label"),

    // drift replay: same even/odd split, HUGEINT sum-vector products,
    // identical via-string cosine tree
    "embed_centroid_drift" ->
      ("WITH v AS (SELECT vec_id, label, (vec_id % 2 = 0) AS even, " +
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q " +
        "FROM embeddings), " +
        "e AS (SELECT label, even, unnest(q) AS x, " +
        "unnest(range(0, len(q))) AS dim FROM v), " +
        "s AS (SELECT label, even, dim, CAST(SUM(x) AS BIGINT) AS sx, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2, 3), " +
        "a AS (SELECT label, dim, sx AS sa, cnt AS ca FROM s WHERE even), " +
        "b AS (SELECT label, dim, sx AS sb, cnt AS cb FROM s WHERE NOT even), " +
        "f AS (SELECT a.label, MAX(ca) AS n_even, MAX(cb) AS n_odd, " +
        "SUM(CAST(sa AS HUGEINT) * sb) AS dot, " +
        "SUM(CAST(sa AS HUGEINT) * sa) AS na2, " +
        "SUM(CAST(sb AS HUGEINT) * sb) AS nb2 " +
        "FROM a JOIN b ON a.label = b.label AND a.dim = b.dim GROUP BY 1) " +
        "SELECT label, n_even, n_odd, " +
        "CASE WHEN na2 <= 0 OR nb2 <= 0 THEN NULL " +
        "ELSE CAST(CAST(dot AS VARCHAR) AS DOUBLE) / " +
        "(sqrt(CAST(CAST(na2 AS VARCHAR) AS DOUBLE)) * " +
        "sqrt(CAST(CAST(nb2 AS VARCHAR) AS DOUBLE))) END AS cos_drift " +
        "FROM f ORDER BY label"),

    // covariance replay: same quantized integers, HUGEINT Σxy/Σx, the
    // identical via-string corr tree (NULL on zero variance)
    "embed_covariance" ->
      ("WITH v AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings), " +
        "e AS (SELECT vec_id, unnest(q) AS x, " +
        "unnest(range(0, len(q))) AS dim FROM v), " +
        "tri AS (SELECT a.dim AS d1, b.dim AS d2, " +
        "SUM(CAST(a.x * b.x AS HUGEINT)) AS sxy, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vecs " +
        "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim " +
        "GROUP BY 1, 2), " +
        "m AS (SELECT dim, SUM(CAST(x AS HUGEINT)) AS sx FROM e GROUP BY 1), " +
        "c AS (SELECT t.d1, t.d2, t.n_vecs, " +
        "t.n_vecs * t.sxy - m1.sx * m2.sx AS cov_num " +
        "FROM tri t JOIN m m1 ON t.d1 = m1.dim JOIN m m2 ON t.d2 = m2.dim), " +
        "dg AS (SELECT d1 AS dim, cov_num AS varnum FROM c WHERE d1 = d2) " +
        "SELECT c.d1, c.d2, c.n_vecs, CAST(c.cov_num AS VARCHAR) AS cov_num, " +
        "CASE WHEN v1.varnum <= 0 OR v2.varnum <= 0 THEN NULL " +
        "ELSE CAST(CAST(c.cov_num AS VARCHAR) AS DOUBLE) / " +
        "(sqrt(CAST(CAST(v1.varnum AS VARCHAR) AS DOUBLE)) * " +
        "sqrt(CAST(CAST(v2.varnum AS VARCHAR) AS DOUBLE))) END AS corr " +
        "FROM c JOIN dg v1 ON c.d1 = v1.dim JOIN dg v2 ON c.d2 = v2.dim " +
        "ORDER BY 1, 2"),

    // TRAINED IVF (round 9): the 2 Lloyd's iterations are a FIXED small
    // constant (Similarity.ivfTopK trainIters = 2), so the training loop
    // unrolls into plain SQL — two assignment+mean blocks over the
    // md5-capped train sample, then the identical serve tail as
    // sim_ann_ivf_fixed. Means are exact element-wise BIGINT sums
    // (list_reduce over list_zip — order-insensitive) divided once in
    // doubles, mirroring Spark's avg-over-longs (exact double running
    // sum / count, both <2^53), then round()ed back into the quantized
    // integer domain (half-away-from-zero in both engines). Degenerate
    // (zero-norm) trained centroids drop via cnrm > 0 exactly as
    // trainCentroids filters them.
    "sim_ann_ivf" -> sqlIvfTrained,

    // PQ (round 11): the whole pipeline is BIGINT except the cluster
    // means (the proven IVF avg-over-longs contract); subspace slicing,
    // seeds, both Lloyd's rounds and the final encode all unroll from
    // the SAME Similarity.Pq* constants the operator reads.
    "embed_pq" -> sqlPqStats,

    "embed_pca2" -> sqlPca2(),

    // nearest-centroid replay: label-supervised exact-integer means
    // (list_reduce sums, one division, half-away round), BIGINT L2
    // argmin with the (dist, label) tie order, confusion counts; the
    // q2 gate mirrors the operator's null/dim filter (embed-op parity)
    "embed_centroid_classify" ->
      ("WITH q2 AS (SELECT vec_id, label, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings " +
        "WHERE embedding IS NOT NULL AND len(embedding) = 64), " +
        "n2 AS (SELECT vec_id, label, v, " +
        "list_sum(list_transform(v, x -> x*x)) AS nrm FROM q2), " +
        "cs AS (SELECT label AS clabel, COUNT(*) AS cnt, " +
        "list_reduce(list(v), (x,y) -> list_transform(list_zip(x,y), p -> p[1]+p[2])) AS sv " +
        "FROM n2 GROUP BY 1), " +
        "cb AS (SELECT clabel, cv, list_sum(list_transform(cv, x -> x*x)) AS cn FROM " +
        "(SELECT clabel, list_transform(sv, s -> CAST(round(CAST(s AS DOUBLE)/cnt) AS BIGINT)) AS cv FROM cs)), " +
        "a AS (SELECT t.vec_id, t.label, c.clabel, t.nrm + c.cn - " +
        "2*list_sum(list_transform(list_zip(t.v, c.cv), p -> p[1]*p[2])) AS dist " +
        "FROM n2 t, cb c), " +
        "g AS (SELECT label, clabel AS pred_label FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn FROM a) " +
        "WHERE rn = 1) " +
        "SELECT label, pred_label, COUNT(*) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2"),

    // Outlier-gate replay: same centroid CTEs, same integer distances,
    // HUGEINT sums → floor-div mean, 4x flag, ppm
    "embed_outlier" ->
      ("WITH q2 AS (SELECT vec_id, label, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings " +
        "WHERE embedding IS NOT NULL AND len(embedding) = 64), " +
        "n2 AS (SELECT vec_id, label, v, " +
        "list_sum(list_transform(v, x -> x*x)) AS nrm FROM q2), " +
        "cs AS (SELECT label AS clabel, COUNT(*) AS cnt, " +
        "list_reduce(list(v), (x,y) -> list_transform(list_zip(x,y), p -> p[1]+p[2])) AS sv " +
        "FROM n2 GROUP BY 1), " +
        "cb AS (SELECT clabel, cv, list_sum(list_transform(cv, x -> x*x)) AS cn FROM " +
        "(SELECT clabel, list_transform(sv, s -> CAST(round(CAST(s AS DOUBLE)/cnt) AS BIGINT)) AS cv FROM cs)), " +
        "a AS (SELECT t.label, t.nrm + c.cn - " +
        "2*list_sum(list_transform(list_zip(t.v, c.cv), p -> p[1]*p[2])) AS dist " +
        "FROM n2 t JOIN cb c ON t.label = c.clabel), " +
        "m AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(dist) // COUNT(*) AS BIGINT) AS mean_dist FROM a GROUP BY 1) " +
        "SELECT a.label AS label, n, mean_dist, " +
        "CAST(SUM(CASE WHEN dist > 4*mean_dist THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "CAST((SUM(CASE WHEN dist > 4*mean_dist THEN 1 ELSE 0 END) * 1000000) " +
        "// nullif(n, 0) AS BIGINT) AS outlier_ppm " +
        "FROM a JOIN m USING (label) GROUP BY a.label, n, mean_dist ORDER BY label"),

    // Serve path is spec-checked bit-identical to the in-session trained
    // path (same quantizer by determinism), so it replays under the SAME
    // unrolled-training oracle.
    "sim_ann_ivf_served" -> sqlIvfTrained,

    // upsert replay: identical serve tail, training restricted to the
    // doc-id-ranged base — the from-scratch rebuild on the unioned
    // corpus IS the oracle (fixed quantizer ⇒ assignment distributes
    // over the base/delta split)
    "sim_ann_index_upsert" -> sqlIvfTrainedFrom(sqlIvfUpsertBase),

    // Inertia replay: the shared trained front (asg + c2), exact
    // distance tail
    "embed_ivf_inertia" ->
      ("WITH " + sqlIvfFrontCtes + ", " +
        "dd AS (SELECT a.cent_id, n.nrm + c.cnrm - " +
        "2*list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS dist " +
        "FROM asg a JOIN n ON a.vec_id = n.vec_id " +
        "JOIN c2 c ON a.cent_id = c.cent_id) " +
        "SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_members, " +
        "CAST(CAST(SUM(CAST(dist AS DECIMAL(38,0))) AS HUGEINT) // COUNT(*) AS BIGINT) AS sse_mean, " +
        "CAST(CAST(SUM(CAST(dist AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sse " +
        "FROM dd GROUP BY 1 ORDER BY 1"),

    // IVF-PQ: both trainings unroll (shared front CTEs), the ADC tail
    // is pure BIGINT — ranking, ties and the audit cosine all replay.
    "sim_ann_ivfpq" -> sqlIvfPq,

    // residual coding: same composite with the encode input swapped to
    // v − c(v) and the per-(query, probed-list) distance table
    "sim_ann_ivfpq_residual" -> sqlIvfPqResidual,

    "embed_random_projection" -> sqlRandomProjection,

    // sign-hamming replay: 63-bit sign signatures off the quantized
    // lists, same bucket CTE pairs (a<b distinct), xor + bit_count
    "embed_sign_hamming" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "sig AS (SELECT vec_id, CAST(list_sum(list_transform(" +
        "range(0, least(len(v), 63)), d -> CASE WHEN v[CAST(d + 1 AS INT)] > 0 " +
        "THEN (CAST(1 AS BIGINT) << CAST(d AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM n), " +
        // Drop-policy mirror: buckets over the 1024 cap contribute no
        // pairs (the documented diagnostic truncation)
        "bc AS (SELECT tbl, bucket FROM bk GROUP BY 1, 2 HAVING COUNT(*) <= 1024), " +
        "bkk AS (SELECT bk.* FROM bk SEMI JOIN bc ON bk.tbl = bc.tbl AND bk.bucket = bc.bucket), " +
        "und AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db FROM bkk a " +
        "JOIN bkk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
        "h AS (SELECT CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS ham " +
        "FROM und JOIN sig sa ON sa.vec_id = und.da " +
        "JOIN sig sb ON sb.vec_id = und.db) " +
        "SELECT ham // 4 AS ham_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(MIN(ham) AS BIGINT) AS min_ham, CAST(MAX(ham) AS BIGINT) AS max_ham " +
        "FROM h GROUP BY 1 ORDER BY 1"),

    // binary-recall replay: masked 63-bit signatures ranked by
    // (hamming ASC, n_id) vs the brute-force cosine ground truth
    "embed_recall_vs_bits" ->
      (s"WITH $sqlQuantCte, " +
        "sig AS (SELECT vec_id, CAST(list_sum(list_transform(" +
        "range(0, least(len(v), 63)), d -> CASE WHEN v[CAST(d + 1 AS INT)] > 0 " +
        "THEN (CAST(1 AS BIGINT) << CAST(d AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM n), " +
        "bu AS (SELECT CAST(unnest([16, 32, 63]) AS INT) AS bits), " +
        s"qs AS (SELECT vec_id AS q_id, sig AS q_sig FROM sig WHERE vec_id < ${Similarity.LshNQueries}), " +
        "sc AS (SELECT bu.bits, qs.q_id, s2.vec_id AS n_id, " +
        "CAST(bit_count(xor(qs.q_sig & (CASE WHEN bu.bits >= 63 THEN 9223372036854775807 " +
        "ELSE (CAST(1 AS BIGINT) << bu.bits) - 1 END), " +
        "s2.sig & (CASE WHEN bu.bits >= 63 THEN 9223372036854775807 " +
        "ELSE (CAST(1 AS BIGINT) << bu.bits) - 1 END))) AS BIGINT) AS ham " +
        "FROM qs, bu, sig s2 WHERE s2.vec_id != qs.q_id), " +
        "tk AS (SELECT bits, q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY bits, q_id ORDER BY ham, n_id) AS rn FROM sc) " +
        s"WHERE rn <= ${Similarity.LshK}), " +
        "bfs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        s"${sqlCosFrag("q", "c")} AS cos " +
        s"FROM n q JOIN n c ON q.vec_id < ${Similarity.LshNQueries} AND c.vec_id != q.vec_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        s"FROM bfs WHERE NOT isnan(cos)) WHERE rank <= ${Similarity.LshK}), " +
        "g AS (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries, " +
        "CAST(COUNT(*) AS BIGINT) AS n_possible FROM bf), " +
        "h AS (SELECT bits, CAST(COUNT(*) AS BIGINT) AS n_hits FROM tk " +
        "JOIN bf USING (q_id, n_id) GROUP BY 1) " +
        "SELECT bu.bits, g.n_queries, g.n_possible, " +
        "CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, " +
        "CAST((COALESCE(h.n_hits, 0) * 1000000) // nullif(g.n_possible, 0) AS BIGINT) AS recall_ppm " +
        "FROM bu CROSS JOIN g LEFT JOIN h USING (bits) ORDER BY bu.bits"),

    // clip-detect replay: analytic samples, gaps-and-islands runs
    "multimodal_audio_clip" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims), " +
        "sv AS (SELECT doc_id, n, i, (doc_id*37 + i*11) % 65536 - 32768 AS s FROM sm), " +
        "cl AS (SELECT doc_id, i FROM sv WHERE abs(s) >= 32700), " +
        "isl AS (SELECT doc_id, i, i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM cl), " +
        "runs AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run FROM isl GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_clipped, " +
        "CAST(COUNT(*) AS BIGINT) AS n_runs, CAST(MAX(run) AS BIGINT) AS longest_run " +
        "FROM runs GROUP BY 1) " +
        "SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples, " +
        "CAST(COALESCE(a.n_clipped, 0) AS BIGINT) AS n_clipped, " +
        "CAST(COALESCE(a.n_runs, 0) AS BIGINT) AS n_runs, " +
        "CAST(COALESCE(a.longest_run, 0) AS BIGINT) AS longest_run, " +
        "CAST((COALESCE(a.n_clipped, 0) * 1000000) // nullif(d.n, 0) AS BIGINT) AS clip_ppm " +
        "FROM dims d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"),

    // fade replay: analytic samples, min(i+1, F, n−i) gain, sign-split
    // truncating divide, head/tail |v| sums
    "multimodal_audio_fade" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims), " +
        "sv AS (SELECT doc_id, n, i, (doc_id*37 + i*11) % 65536 - 32768 AS s FROM sm), " +
        "fv AS (SELECT doc_id, n, i, CASE WHEN s * least(least(i + 1, 16), n - i) < 0 " +
        "THEN -((-(s * least(least(i + 1, 16), n - i))) // 16) " +
        "ELSE (s * least(least(i + 1, 16), n - i)) // 16 END AS v FROM sv) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_samples, " +
        "CAST(SUM(v) AS BIGINT) AS fade_sum, CAST(SUM(i * v) AS BIGINT) AS fade_posw, " +
        "CAST(SUM(CASE WHEN i < 16 THEN abs(v) ELSE 0 END) AS BIGINT) AS head_abs, " +
        "CAST(SUM(CASE WHEN i >= n - 16 THEN abs(v) ELSE 0 END) AS BIGINT) AS tail_abs " +
        "FROM fv GROUP BY doc_id, n ORDER BY doc_id"),

    // label-probe replay: the sim_knn_join chain + label attach,
    // (votes DESC, label ASC) vote pick, left-join census
    "embed_knn_label_acc" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id FROM bk a " +
        "JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id != b.vec_id), " +
        s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        "FROM s WHERE NOT isnan(cos)), " +
        "knn AS (SELECT q_id, n_id FROM r WHERE rank <= 5), " +
        "lb AS (SELECT vec_id, label FROM embeddings), " +
        "vt AS (SELECT knn.q_id, lb.label AS n_label, CAST(COUNT(*) AS BIGINT) AS votes " +
        "FROM knn JOIN lb ON lb.vec_id = knn.n_id GROUP BY 1, 2), " +
        "pd AS (SELECT q_id AS vec_id, n_label AS pred FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id " +
        "ORDER BY votes DESC, n_label ASC) AS rn FROM vt) WHERE rn = 1) " +
        "SELECT lb.label, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(SUM(CASE WHEN pd.pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pred, " +
        "CAST(SUM(CASE WHEN pd.pred IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nopred, " +
        "CAST(SUM(CASE WHEN pd.pred = lb.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "CAST((SUM(CASE WHEN pd.pred = lb.label THEN 1 ELSE 0 END) * 1000000) // " +
        "nullif(SUM(CASE WHEN pd.pred IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS acc_ppm " +
        "FROM lb LEFT JOIN pd USING (vec_id) GROUP BY 1 ORDER BY 1"),

    // the k-NN self-join replays with the same bucket CTE — every
    // vector is a query
    "sim_knn_join" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id FROM bk a " +
        "JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id != b.vec_id), " +
        s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        "FROM s WHERE NOT isnan(cos)) " +
        "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank"),

    // multi-probe replay: base bucket + every single-bit xor flip per
    // (query, table), then the identical candidate/rerank tail. The
    // flip list / query gate / rank cut derive from the SAME constants
    // the operator defaults to (Similarity.Lsh*) — no silent desync.
    "sim_ann_lsh_multiprobe" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "fl AS (SELECT * FROM (VALUES " +
        (0L +: (0 until Similarity.LshBitsPerTable).map(1L << _))
          .map(v => s"($v)").mkString(", ") +
        ") AS f(flip)), " +
        "qp AS (SELECT DISTINCT vec_id AS q_id, tbl, " +
        s"xor(bucket, flip) AS bucket FROM bk, fl WHERE vec_id < ${Similarity.LshNQueries}), " +
        "cand AS (SELECT DISTINCT qp.q_id, b.vec_id AS n_id FROM qp " +
        "JOIN bk b ON qp.tbl = b.tbl AND qp.bucket = b.bucket AND b.vec_id != qp.q_id), " +
        s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        "FROM s WHERE NOT isnan(cos)) " +
        s"SELECT q_id, rank, n_id, cos FROM r WHERE rank <= ${Similarity.LshK} ORDER BY q_id, rank"),

    // trained-index recall replay: brute force + the FULL unrolled-
    // training IVF statement as a scoped subquery (its WITH chain
    // shadows locally)
    // probe-curve replay: the trained-IVF front ONCE, three candidate
    // chains re-filtering the same ranked probes at pr <= 1/2/4
    "sim_recall_probe_curve" -> {
      def leg(np: Int): String =
        s"pcand$np AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id FROM probes p " +
          s"JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id != p.q_id " +
          s"WHERE p.pr <= $np), " +
          s"psc$np AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
          s"FROM pcand$np c JOIN n q ON c.q_id = q.vec_id " +
          s"JOIN n x ON c.n_id = x.vec_id), " +
          s"prk$np AS (SELECT q_id, n_id FROM (SELECT *, " +
          "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
          s"FROM psc$np WHERE NOT isnan(cos)) WHERE rank <= 10), " +
          s"ph$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits " +
          s"FROM prk$np JOIN bf USING (q_id, n_id))"
      def row(np: Int): String =
        s"SELECT 'ivf_p$np' AS method, g.n_queries, g.n_possible, " +
          s"ph$np.n_hits, CAST(ph$np.n_hits * 1000000 // " +
          s"nullif(g.n_possible, 0) AS BIGINT) AS recall_ppm FROM g, ph$np"
      "WITH " + sqlIvfFrontCtesFrom("n") + ", " +
        "bfs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        s"${sqlCosFrag("q", "c")} AS cos " +
        s"FROM n q JOIN n c ON q.vec_id < ${Similarity.LshNQueries} AND c.vec_id != q.vec_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        s"FROM bfs WHERE NOT isnan(cos)) WHERE rank <= ${Similarity.LshK}), " +
        leg(1) + ", " + leg(2) + ", " + leg(4) + ", " +
        "g AS (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries, " +
        "CAST(COUNT(*) AS BIGINT) AS n_possible FROM bf) " +
        row(1) + " UNION ALL " + row(2) + " UNION ALL " + row(4) +
        " ORDER BY method"
    },

    "sim_recall_report_ivf" ->
      (s"WITH $sqlQuantCte, " +
        "bfs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        s"${sqlCosFrag("q", "c")} AS cos " +
        s"FROM n q JOIN n c ON q.vec_id < ${Similarity.LshNQueries} AND c.vec_id != q.vec_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        s"FROM bfs WHERE NOT isnan(cos)) WHERE rank <= ${Similarity.LshK}), " +
        s"iv AS (SELECT q_id, n_id FROM ($sqlIvfTrained) z), " +
        "g AS (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries, " +
        "CAST(COUNT(*) AS BIGINT) AS n_possible FROM bf), " +
        "h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM iv JOIN bf USING (q_id, n_id)) " +
        "SELECT 'ivf_served' AS method, g.n_queries, g.n_possible, h.n_hits, " +
        "CAST(h.n_hits * 1000000 // nullif(g.n_possible, 0) AS BIGINT) AS recall_ppm " +
        "FROM g, h"),

    // recall audit replay: brute-force ground truth + BOTH LSH candidate
    // chains from the shared CTE fragments, intersected and reduced to
    // integer ppm — every constant (flip list, query gate, k) derives
    // from the same Similarity.Lsh* values the operator uses
    "sim_recall_report" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "bfs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        s"${sqlCosFrag("q", "c")} AS cos " +
        s"FROM n q JOIN n c ON q.vec_id < ${Similarity.LshNQueries} AND c.vec_id != q.vec_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        s"FROM bfs WHERE NOT isnan(cos)) WHERE rank <= ${Similarity.LshK}), " +
        // single-probe leg
        s"qb AS (SELECT vec_id AS q_id, tbl, bucket FROM bk WHERE vec_id < ${Similarity.LshNQueries}), " +
        "c1 AS (SELECT DISTINCT qb.q_id, b.vec_id AS n_id FROM qb " +
        "JOIN bk b ON qb.tbl = b.tbl AND qb.bucket = b.bucket AND b.vec_id != qb.q_id), " +
        s"s1 AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM c1 c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "l1 AS (SELECT q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        s"FROM s1 WHERE NOT isnan(cos)) WHERE rank <= ${Similarity.LshK}), " +
        // multi-probe leg (Hamming-1 flips from the shared constants)
        "fl AS (SELECT * FROM (VALUES " +
        (0L +: (0 until Similarity.LshBitsPerTable).map(1L << _))
          .map(v => s"($v)").mkString(", ") +
        ") AS f(flip)), " +
        "qp AS (SELECT DISTINCT vec_id AS q_id, tbl, " +
        s"xor(bucket, flip) AS bucket FROM bk, fl WHERE vec_id < ${Similarity.LshNQueries}), " +
        "c2 AS (SELECT DISTINCT qp.q_id, b.vec_id AS n_id FROM qp " +
        "JOIN bk b ON qp.tbl = b.tbl AND qp.bucket = b.bucket AND b.vec_id != qp.q_id), " +
        s"s2 AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM c2 c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "l2 AS (SELECT q_id, n_id FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        s"FROM s2 WHERE NOT isnan(cos)) WHERE rank <= ${Similarity.LshK}), " +
        "g AS (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries, " +
        "CAST(COUNT(*) AS BIGINT) AS n_possible FROM bf), " +
        "h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM l1 JOIN bf USING (q_id, n_id)), " +
        "h2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM l2 JOIN bf USING (q_id, n_id)) " +
        "SELECT method, n_queries, n_possible, n_hits, " +
        "CAST(n_hits * 1000000 // n_possible AS BIGINT) AS recall_ppm FROM (" +
        "SELECT 'lsh' AS method, g.n_queries, g.n_possible, h1.n_hits FROM g, h1 " +
        "UNION ALL " +
        "SELECT 'lsh_multiprobe' AS method, g.n_queries, g.n_possible, h2.n_hits FROM g, h2) " +
        "ORDER BY method"),

    "sim_ann_lsh" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "qb AS (SELECT vec_id AS q_id, tbl, bucket FROM bk WHERE vec_id < 10), " +
        "cand AS (SELECT DISTINCT qb.q_id, b.vec_id AS n_id FROM qb " +
        "JOIN bk b ON qb.tbl = b.tbl AND qb.bucket = b.bucket AND b.vec_id != qb.q_id), " +
        s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
        "FROM s WHERE NOT isnan(cos)) " +
        "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 10 ORDER BY q_id, rank"),

    // RBO replay: the exact-top-10 CTE (sqlBruteForceTopK front) and
    // the LSH-top-10 CTE (sim_ann_lsh front) joined on item; each
    // common item contributes the Scala-computed per-rank weight of
    // GREATEST(ra, rb) (identical literals both sides), per-query sum
    // as an n_id-ordered list_reduce fold (chiSquare double doctrine)
    "sim_rbo_audit" -> {
      val ws = graft.operators.Similarity.rboWeights(10,
        graft.operators.Similarity.RboPersistence)
      val caseW = (1 to 10).map(m => s"WHEN ${m} THEN ${ws(m - 1)}")
        .mkString("CASE GREATEST(ra, rb) ", " ", " END")
      s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "ex0 AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        s"${sqlCosFrag("q", "c")} AS cos " +
        "FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id), " +
        "exr AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id " +
        "ORDER BY cos DESC, n_id) AS ra FROM ex0 WHERE NOT isnan(cos)), " +
        "ex AS (SELECT q_id, n_id, ra FROM exr WHERE ra <= 10), " +
        "qb AS (SELECT vec_id AS q_id, tbl, bucket FROM bk WHERE vec_id < 10), " +
        "cand AS (SELECT DISTINCT qb.q_id, b.vec_id AS n_id FROM qb " +
        "JOIN bk b ON qb.tbl = b.tbl AND qb.bucket = b.bucket AND b.vec_id != qb.q_id), " +
        s"an0 AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "anr AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id " +
        "ORDER BY cos DESC, n_id) AS rb FROM an0 WHERE NOT isnan(cos)), " +
        "an AS (SELECT q_id, n_id, rb FROM anr WHERE rb <= 10), " +
        s"com AS (SELECT ex.q_id, ex.n_id, $caseW AS w " +
        "FROM ex JOIN an ON ex.q_id = an.q_id AND ex.n_id = an.n_id), " +
        "agg AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_common, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY n_id)), " +
        "(a, b) -> a + b) AS rbo FROM com GROUP BY 1), " +
        "qs AS (SELECT DISTINCT q_id FROM ex) " +
        "SELECT qs.q_id, COALESCE(agg.n_common, 0) AS n_common, " +
        "COALESCE(agg.rbo, 0.0) AS rbo FROM qs LEFT JOIN agg USING (q_id) " +
        "ORDER BY qs.q_id"
    },

    // radius-search replay: identical bucket/candidate/cosine CTEs, the
    // tail aggregates with the NaN gate; left join from the query set
    // keeps the structural zero rows
    "sim_range_search" ->
      (s"WITH $sqlQuantCte, $sqlLshBucketCte, " +
        "qb AS (SELECT vec_id AS q_id, tbl, bucket FROM bk WHERE vec_id < 10), " +
        "cand AS (SELECT DISTINCT qb.q_id, b.vec_id AS n_id FROM qb " +
        "JOIN bk b ON qb.tbl = b.tbl AND qb.bucket = b.bucket AND b.vec_id != qb.q_id), " +
        s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
        "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
        "a AS (SELECT q_id, COUNT(*) AS n_candidates, " +
        "CAST(SUM(CASE WHEN NOT isnan(cos) AND cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches, " +
        "MAX(CASE WHEN NOT isnan(cos) AND cos >= 0.3 THEN cos END) AS max_cos " +
        "FROM s GROUP BY 1) " +
        "SELECT q.vec_id AS q_id, COALESCE(a.n_candidates, 0) AS n_candidates, " +
        "COALESCE(a.n_matches, 0) AS n_matches, a.max_cos " +
        "FROM (SELECT vec_id FROM n WHERE vec_id < 10) q " +
        "LEFT JOIN a ON q.vec_id = a.q_id ORDER BY q_id"),

    "dedup_embedding" ->
      (s"WITH $sqlQuantCte " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        "CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos " +
        "FROM n a JOIN n b ON a.vec_id < b.vec_id " +
        // NOT isnan mirrors Similarity's defined() guard (NaN >= t is
        // TRUE in both engines — a zero vector must not near-dup-match)
        "WHERE NOT isnan(cos) AND cos >= 0.4 ORDER BY vec_a, vec_b"),

    "sim_topk" -> sqlBruteForceTopK,

    // the served HNSW search is EXACT at validation scale (efSearch
    // exceeds per-shard node count → exhaustive beam; see the queries
    // entry), and its scores are bit-equal to brute force by the shared
    // quantized arithmetic — so the brute-force replay IS its oracle
    "sim_ann_hnsw_served" -> sqlBruteForceTopK,

    "sim_ann_hnsw_build" -> sqlHnswBuild(n = 40, m = 4, maxLevel = 6),

    // upsert replay: the from-scratch rebuild on the union IS the
    // oracle — the fold identity under test, not a separate formula
    "sim_ann_hnsw_upsert" -> sqlHnswBuild(n = 40, m = 4, maxLevel = 6),

    // list-balance replay: the sim_ann_ivf_fixed centroid/assignment
    // CTEs verbatim, then per-list counts with structural zero rows
    "embed_ivf_balance" ->
      (s"WITH $sqlQuantCte, " +
        "cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n " +
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
        "ac AS (SELECT n.vec_id, c.cent_id, " +
        "CAST(list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
        "FROM n, cent c), " +
        "asg AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac) " +
        "WHERE rn = 1), " +
        "cnt AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n0 FROM asg GROUP BY 1), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM asg) " +
        "SELECT c.cent_id, CAST(COALESCE(cnt.n0, 0) AS BIGINT) AS n_vecs, " +
        "CAST(COALESCE(cnt.n0, 0) * 1000000 // nullif((SELECT n_total FROM tot), 0) AS BIGINT) AS share_ppm " +
        "FROM cent c LEFT JOIN cnt ON c.cent_id = cnt.cent_id ORDER BY 1"),

    // pure-BIGINT inner-product ranking (no division, no sqrt): the
    // ranking, ties included, replays exactly
    "sim_mips_topk" ->
      (s"WITH $sqlQuantCte, " +
        "s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        "CAST(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2])) AS BIGINT) AS ip " +
        "FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ip DESC, n_id) AS rank " +
        "FROM s WHERE ip IS NOT NULL) " + // null embedding gated, as in mipsTopK
        "SELECT q_id, rank, n_id, ip FROM r WHERE rank <= 10 ORDER BY q_id, rank"),

    "multimodal_meta" ->
      ("SELECT doc_id, md5(text) AS content_digest, length(text) AS n_bytes, " +
        "(n_chars % 64 + 16) AS width, (n_chars % 48 + 16) AS height, " +
        "(n_chars % 64 + 16) * (n_chars % 48 + 16) AS n_pixels " +
        "FROM documents ORDER BY doc_id"),

    "multimodal_framesample" ->
      ("SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx " +
        "FROM (SELECT doc_id, length(text) // 100 + 1 AS n_frames FROM documents) " +
        "ORDER BY doc_id, frame_idx"),

    // Analytic replay of the BMP decode: pixel i (row-major) has gray
    // value (doc_id*31 + i*7) % 256 — the oracle computes the decoded
    // stats without touching bytes, so encoder AND decoder must both be
    // correct for the hash to match.
    "multimodal_decode" ->
      ("SELECT doc_id, width, height, n_pixels, " +
        "CAST(list_sum(px) AS BIGINT) AS px_sum, " +
        "CAST(list_sum(list_transform(range(0, CAST(n_pixels AS INT)), i -> i * px[i+1])) AS BIGINT) AS px_posw, " +
        "CAST(list_min(px) AS BIGINT) AS px_min, " +
        "CAST(list_max(px) AS BIGINT) AS px_max " +
        "FROM (SELECT doc_id, width, height, n_pixels, " +
        "list_transform(range(0, CAST(n_pixels AS INT)), i -> (doc_id*31 + i*7) % 256) AS px " +
        "FROM (SELECT doc_id, (n_chars % 13) + 4 AS width, (n_chars % 7) + 4 AS height, " +
        "((n_chars % 13) + 4) * ((n_chars % 7) + 4) AS n_pixels FROM documents)) " +
        "ORDER BY doc_id"),

    // analytic nearest-neighbor replay: dst pixel i (4x4 row-major) maps
    // to src (sy, sx) = (i//4 * h // 4, i%4 * w // 4), value from the
    // same synthesized-pixel formula as multimodal_decode
    // crop replay: same synthesized-pixel formula, window offsets by
    // the (dim - 4) // 2 convention, raster index inside the window
    "multimodal_crop" ->
      ("SELECT doc_id, width AS src_width, height AS src_height, " +
        "CAST((width - 4) // 2 AS BIGINT) AS x0, " +
        "CAST((height - 4) // 2 AS BIGINT) AS y0, " +
        "CAST(list_sum(px) AS BIGINT) AS c_sum, " +
        "CAST(list_sum(list_transform(range(0, 16), i -> i * px[i+1])) AS BIGINT) AS c_posw, " +
        "CAST(list_min(px) AS BIGINT) AS c_min, " +
        "CAST(list_max(px) AS BIGINT) AS c_max " +
        "FROM (SELECT doc_id, width, height, " +
        "list_transform(range(0, 16), i -> " +
        "(doc_id*31 + ((((height - 4) // 2 + i // 4) * width) + (width - 4) // 2 + i % 4) * 7) % 256) AS px " +
        "FROM (SELECT doc_id, (n_chars % 13) + 4 AS width, (n_chars % 7) + 4 AS height " +
        "FROM documents)) ORDER BY doc_id"),

    // Rotate replay: output raster i over the SWAPPED dims (ow = h) —
    // source index (h - 1 - i % h)*w + (i // h)
    "multimodal_rotate90" ->
      ("SELECT doc_id, CAST(height AS BIGINT) AS out_width, " +
        "CAST(width AS BIGINT) AS out_height, " +
        "CAST(list_sum(px) AS BIGINT) AS r_sum, " +
        "CAST(list_sum(list_transform(range(0, CAST(width * height AS INT)), " +
        "i -> i * px[i+1])) AS BIGINT) AS r_posw, " +
        "CAST(list_min(px) AS BIGINT) AS r_min, " +
        "CAST(list_max(px) AS BIGINT) AS r_max " +
        "FROM (SELECT doc_id, width, height, " +
        "list_transform(range(0, CAST(width * height AS INT)), i -> " +
        "(doc_id*31 + ((height - 1 - i % height) * width + (i // height)) * 7) % 256) AS px " +
        "FROM (SELECT doc_id, (n_chars % 13) + 4 AS width, (n_chars % 7) + 4 AS height " +
        "FROM documents)) ORDER BY doc_id"),

    // Flip replay: mirrored-index pixel formula — (i // w) picks the
    // row, (w - 1 - i % w) mirrors the column
    "multimodal_flip" ->
      ("SELECT doc_id, width, height, " +
        "CAST(list_sum(px) AS BIGINT) AS f_sum, " +
        "CAST(list_sum(list_transform(range(0, CAST(width * height AS INT)), " +
        "i -> i * px[i+1])) AS BIGINT) AS f_posw, " +
        "CAST(list_min(px) AS BIGINT) AS f_min, " +
        "CAST(list_max(px) AS BIGINT) AS f_max " +
        "FROM (SELECT doc_id, width, height, " +
        "list_transform(range(0, CAST(width * height AS INT)), i -> " +
        "(doc_id*31 + ((i // width) * width + (width - 1 - i % width)) * 7) % 256) AS px " +
        "FROM (SELECT doc_id, (n_chars % 13) + 4 AS width, (n_chars % 7) + 4 AS height " +
        "FROM documents)) ORDER BY doc_id"),

    "multimodal_resize" ->
      ("SELECT doc_id, width AS src_width, height AS src_height, " +
        "CAST(list_sum(px) AS BIGINT) AS r_sum, " +
        "CAST(list_sum(list_transform(range(0, 16), i -> i * px[i+1])) AS BIGINT) AS r_posw, " +
        "CAST(list_min(px) AS BIGINT) AS r_min, " +
        "CAST(list_max(px) AS BIGINT) AS r_max " +
        "FROM (SELECT doc_id, width, height, " +
        "list_transform(range(0, 16), i -> " +
        "(doc_id*31 + ((((i // 4) * height) // 4) * width + (((i % 4) * width) // 4)) * 7) % 256) AS px " +
        "FROM (SELECT doc_id, (n_chars % 13) + 4 AS width, (n_chars % 7) + 4 AS height " +
        "FROM documents)) ORDER BY doc_id"),

    // Analytic replay of the PNG decode — same synthesized-pixel formula
    // as multimodal_decode, PNG's own dimension arithmetic; PNG rows are
    // top-down so pixel i maps straight to the raster index
    "multimodal_decode_png" ->
      ("SELECT doc_id, width, height, n_pixels, " +
        "CAST(list_sum(px) AS BIGINT) AS px_sum, " +
        "CAST(list_sum(list_transform(range(0, CAST(n_pixels AS INT)), i -> i * px[i+1])) AS BIGINT) AS px_posw, " +
        "CAST(list_min(px) AS BIGINT) AS px_min, " +
        "CAST(list_max(px) AS BIGINT) AS px_max " +
        "FROM (SELECT doc_id, width, height, n_pixels, " +
        "list_transform(range(0, CAST(n_pixels AS INT)), i -> (doc_id*31 + i*7) % 256) AS px " +
        "FROM (SELECT doc_id, (n_chars % 11) + 4 AS width, (n_chars % 5) + 4 AS height, " +
        "((n_chars % 11) + 4) * ((n_chars % 5) + 4) AS n_pixels FROM documents)) " +
        "ORDER BY doc_id"),

    // Exact integer replay of the BILINEAR kernel: dst pixel i blends the
    // 2x2 source neighborhood around fx = xn/8, fy = yn/8 (half-pixel
    // centers), and the value scaled by 64 is an integer — identical
    // arithmetic in both engines, no float in sight
    "multimodal_resize_bilinear" ->
      ("WITH d AS (SELECT doc_id, (n_chars % 13) + 4 AS w, (n_chars % 7) + 4 AS h FROM documents), " +
        "p AS (SELECT doc_id, w, h, i, (2*(i % 4)+1)*w - 4 AS xn, (2*(i // 4)+1)*h - 4 AS yn " +
        "FROM d CROSS JOIN range(0, 16) t(i)), " +
        "q AS (SELECT doc_id, w, h, i, xn // 8 AS x0, xn % 8 AS rx, least(xn // 8 + 1, w-1) AS x1, " +
        "yn // 8 AS y0, yn % 8 AS ry, least(yn // 8 + 1, h-1) AS y1 FROM p), " +
        "v AS (SELECT doc_id, i, " +
        "(8-ry)*((8-rx)*((doc_id*31 + (y0*w + x0)*7) % 256) + rx*((doc_id*31 + (y0*w + x1)*7) % 256)) + " +
        "ry*((8-rx)*((doc_id*31 + (y1*w + x0)*7) % 256) + rx*((doc_id*31 + (y1*w + x1)*7) % 256)) AS val FROM q) " +
        "SELECT d.doc_id, CAST(w AS BIGINT) AS src_width, CAST(h AS BIGINT) AS src_height, " +
        "CAST(sum(val) AS BIGINT) AS rb_sum, CAST(sum(i*val) AS BIGINT) AS rb_posw, " +
        "CAST(min(val) AS BIGINT) AS rb_min, CAST(max(val) AS BIGINT) AS rb_max " +
        "FROM v JOIN d ON v.doc_id = d.doc_id GROUP BY d.doc_id, w, h ORDER BY d.doc_id"),

    // Analytic replay of the WAV decode: PCM sample i is
    // (doc_id*37 + i*11) % 65536 - 32768 (operands positive before the
    // shift into signed range, so % agrees across engines)
    "multimodal_audio" ->
      ("SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, " +
        "CAST(n AS BIGINT) AS n_samples, " +
        "CAST(list_sum(smp) AS BIGINT) AS s_sum, " +
        "CAST(list_sum(list_transform(range(0, CAST(n AS INT)), i -> i * smp[i+1])) AS BIGINT) AS s_posw, " +
        "CAST(list_min(smp) AS BIGINT) AS s_min, " +
        "CAST(list_max(smp) AS BIGINT) AS s_max " +
        "FROM (SELECT doc_id, n, " +
        "list_transform(range(0, CAST(n AS INT)), i -> (doc_id*37 + i*11) % 65536 - 32768) AS smp " +
        "FROM (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents)) " +
        "ORDER BY doc_id"),

    // ZCR replay over the same analytic PCM: zero samples carry the
    // previous sign via last_value IGNORE NULLS
    // Normalize replay: analytic PCM + the sign-split gain text
    "multimodal_audio_normalize" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims), " +
        "sv AS (SELECT doc_id, n, i, (doc_id*37 + i*11) % 65536 - 32768 AS s FROM sm), " +
        "pk AS (SELECT doc_id, CAST(MAX(abs(s)) AS BIGINT) AS peak FROM sv GROUP BY 1), " +
        "nv AS (SELECT sv.doc_id, n, i, CASE WHEN peak = 0 THEN s " +
        "WHEN s < 0 THEN -((-s * 32767) // peak) " +
        "ELSE (s * 32767) // peak END AS v " +
        "FROM sv JOIN pk ON sv.doc_id = pk.doc_id) " +
        "SELECT nv.doc_id AS doc_id, CAST(n AS BIGINT) AS n_samples, peak, " +
        "CAST(MAX(abs(v)) AS BIGINT) AS norm_peak, " +
        "CAST(SUM(v) AS BIGINT) AS norm_sum, " +
        "CAST(SUM(i * v) AS BIGINT) AS norm_posw " +
        "FROM nv JOIN pk ON nv.doc_id = pk.doc_id " +
        "GROUP BY nv.doc_id, n, peak ORDER BY doc_id"),

    // VAD replay: analytic windows + the shared threshold, run starts
    // via lag, runs via the cumulative start-count partition
    "multimodal_audio_vad" ->
      (s"WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims), " +
        "sv AS (SELECT doc_id, i // 16 AS wdx, " +
        "(doc_id*37 + i*11) % 65536 - 32768 AS s FROM sm), " +
        "we AS (SELECT doc_id, wdx, CAST(SUM(s * s) AS BIGINT) AS e, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM sv GROUP BY 1, 2), " +
        s"vw AS (SELECT doc_id, wdx, (e >= c * ${Multimodal.VadThreshPerSample}) AS v FROM we), " +
        "rr AS (SELECT doc_id, wdx, v, CASE WHEN v AND (lag(v) OVER w IS NULL " +
        "OR NOT lag(v) OVER w) THEN 1 ELSE 0 END AS st FROM vw " +
        "WINDOW w AS (PARTITION BY doc_id ORDER BY wdx)), " +
        "rs AS (SELECT doc_id, v, SUM(st) OVER (PARTITION BY doc_id " +
        "ORDER BY wdx ROWS UNBOUNDED PRECEDING) AS seg FROM rr), " +
        "segs AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS len " +
        "FROM rs WHERE v GROUP BY 1, 2), " +
        "a1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments, " +
        "CAST(MAX(len) AS BIGINT) AS longest FROM segs GROUP BY 1), " +
        "a0 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows, " +
        "CAST(SUM(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced " +
        "FROM vw GROUP BY 1) " +
        "SELECT a0.doc_id, a0.n_windows, a0.n_voiced, " +
        "COALESCE(a1.n_segments, 0) AS n_segments, " +
        "COALESCE(a1.longest, 0) AS longest_segment " +
        "FROM a0 LEFT JOIN a1 ON a0.doc_id = a1.doc_id ORDER BY 1"),

    // Mix replay: analytic PCM + analytic tone, sign-split half gain
    // (JVM truncation vs DuckDB floor), identical clamp branches
    "multimodal_audio_mix" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims), " +
        "mv AS (SELECT doc_id, n, i, " +
        "(doc_id*37 + i*11) % 65536 - 32768 AS s, " +
        "(doc_id*53 + i*7) % 65536 - 32768 AS tone FROM sm), " +
        "mx AS (SELECT doc_id, n, i, s + " +
        "(CASE WHEN tone < 0 THEN -((-tone) // 2) ELSE tone // 2 END) AS raw FROM mv), " +
        "cl AS (SELECT doc_id, n, i, " +
        "CASE WHEN raw > 32767 THEN 32767 WHEN raw < -32768 THEN -32768 ELSE raw END AS v, " +
        "CASE WHEN raw > 32767 OR raw < -32768 THEN 1 ELSE 0 END AS clip FROM mx) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_samples, " +
        "CAST(SUM(clip) AS BIGINT) AS n_clipped, " +
        "CAST(SUM(v) AS BIGINT) AS mix_sum, " +
        "CAST(SUM(i * v) AS BIGINT) AS mix_posw, " +
        "CAST(MIN(v) AS BIGINT) AS mix_min, CAST(MAX(v) AS BIGINT) AS mix_max " +
        "FROM cl GROUP BY doc_id, n ORDER BY doc_id"),

    // Autocorr replay: analytic PCM formula at both t and t+lag
    "multimodal_audio_autocorr" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "lg AS (SELECT unnest([1, 2, 4, 8]) AS lag), " +
        "pr AS (SELECT doc_id, n, lag, unnest(range(0, n - lag)) AS t " +
        "FROM dims CROSS JOIN lg), " +
        "pp AS (SELECT doc_id, n, lag, " +
        "((doc_id*37 + t*11) % 65536 - 32768) * " +
        "((doc_id*37 + (t + lag)*11) % 65536 - 32768) AS prod FROM pr), " +
        "rk AS (SELECT doc_id, lag, CAST(n - lag AS BIGINT) AS n_pairs, " +
        "CAST(SUM(prod) AS BIGINT) AS r_lag FROM pp GROUP BY 1, 2, n), " +
        "r0t AS (SELECT doc_id, CAST(SUM( " +
        "((doc_id*37 + i*11) % 65536 - 32768) * ((doc_id*37 + i*11) % 65536 - 32768)) AS BIGINT) AS r0 " +
        "FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM dims) GROUP BY 1) " +
        "SELECT rk.doc_id AS doc_id, CAST(lag AS BIGINT) AS lag, n_pairs, r_lag, r0, " +
        "CASE WHEN r0 > 0 THEN CAST(r_lag AS DOUBLE) / r0 ELSE 0.0 END AS r_norm " +
        "FROM rk JOIN r0t ON rk.doc_id = r0t.doc_id ORDER BY doc_id, lag"),

    "multimodal_audio_zcr" ->
      ("WITH sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i " +
        "FROM (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents)), " +
        "sg AS (SELECT doc_id, n, i, CASE " +
        "WHEN (doc_id*37 + i*11) % 65536 - 32768 > 0 THEN 1 " +
        "WHEN (doc_id*37 + i*11) % 65536 - 32768 < 0 THEN -1 END AS sgn FROM sm), " +
        "pv AS (SELECT doc_id, n, sgn, last_value(sgn IGNORE NULLS) OVER " +
        "(PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev " +
        "FROM sg), " +
        "a AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples, " +
        "CAST(SUM(CASE WHEN sgn IS NOT NULL AND prev IS NOT NULL AND sgn != prev " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings FROM pv GROUP BY 1) " +
        "SELECT doc_id, n_samples, n_crossings, " +
        "CAST(CASE WHEN n_samples > 1 THEN n_crossings * 1000000 // (n_samples - 1) " +
        "ELSE 0 END AS BIGINT) AS zcr_ppm FROM a ORDER BY doc_id"),

    // windowed-energy replay over the same analytic PCM
    "multimodal_audio_rms" ->
      ("WITH s AS (SELECT doc_id, i, (doc_id*37 + i*11) % 65536 - 32768 AS v " +
        "FROM (SELECT doc_id, unnest(range(0, (n_chars % 50) + 20)) AS i FROM documents)) " +
        "SELECT doc_id, i // 16 AS win, COUNT(*) AS n_samples, " +
        "CAST(SUM(v*v) AS BIGINT) AS energy, CAST(MAX(abs(v)) AS BIGINT) AS peak " +
        "FROM s GROUP BY 1, 2 ORDER BY doc_id, win"),

    // silence/clipping replay: the windowed-energy CTE aggregated with
    // the same integer thresholds; all-silent clips NULL their bounds
    // resample replay: analytic PCM + even/odd upsample rows; the JVM
    // midpoint truncates toward zero, so the odd rows divide via the
    // explicit sign split (DuckDB // floors)
    "multimodal_audio_resample" ->
      ("WITH s AS (SELECT doc_id, i, (doc_id*37 + i*11) % 65536 - 32768 AS v " +
        "FROM (SELECT doc_id, unnest(range(0, (n_chars % 50) + 20)) AS i FROM documents)), " +
        "n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_in FROM s GROUP BY 1), " +
        "o AS (SELECT doc_id, 2*i AS j, v FROM s " +
        "UNION ALL SELECT a.doc_id, 2*a.i + 1 AS j, " +
        "CASE WHEN a.v + b.v < 0 THEN -((-(a.v + b.v)) // 2) " +
        "ELSE (a.v + b.v) // 2 END AS v " +
        "FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1) " +
        "SELECT o.doc_id, n.n_in, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(o.v) AS BIGINT) AS s_sum, CAST(SUM(o.j * o.v) AS BIGINT) AS s_posw, " +
        "CAST(MIN(o.v) AS BIGINT) AS s_min, CAST(MAX(o.v) AS BIGINT) AS s_max " +
        "FROM o JOIN n ON o.doc_id = n.doc_id GROUP BY 1, 2 ORDER BY 1"),

    // polyphase replay: analytic PCM evaluated AT the phase positions
    // base and base+1 (no sample-table join needed — s(i) is a closed
    // form), interpolation via the explicit sign split (JVM / truncates
    // toward zero, DuckDB // floors); n >= 20 always, so the n = 0 leg
    // of n_out never fires at this fixture
    "multimodal_audio_resample_poly" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 50) + 20 AS n FROM documents), " +
        "o AS (SELECT doc_id, n, unnest(range(0, (2*(n-1)) // 3 + 1)) AS j FROM dims), " +
        "p AS (SELECT doc_id, n, j, (j*3) // 2 AS base, (j*3) % 2 AS frac FROM o), " +
        "sv AS (SELECT doc_id, n, j, frac, " +
        "(doc_id*37 + base*11) % 65536 - 32768 AS s0, " +
        "(doc_id*37 + (base+1)*11) % 65536 - 32768 AS s1 FROM p), " +
        "vv AS (SELECT doc_id, n, j, CASE WHEN frac = 0 THEN s0 " +
        "WHEN s1 - s0 < 0 THEN s0 - (((s0 - s1) * frac) // 2) " +
        "ELSE s0 + (((s1 - s0) * frac) // 2) END AS v FROM sv) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_in, " +
        "CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(v) AS BIGINT) AS s_sum, CAST(SUM(j*v) AS BIGINT) AS s_posw, " +
        "CAST(MIN(v) AS BIGINT) AS s_min, CAST(MAX(v) AS BIGINT) AS s_max " +
        "FROM vv GROUP BY doc_id, n ORDER BY doc_id"),

    "multimodal_audio_trim" ->
      ("WITH s AS (SELECT doc_id, i, (doc_id*37 + i*11) % 65536 - 32768 AS v " +
        "FROM (SELECT doc_id, unnest(range(0, (n_chars % 50) + 20)) AS i FROM documents)), " +
        "w AS (SELECT doc_id, i // 16 AS win, COUNT(*) AS n_samples, " +
        "CAST(SUM(v*v) AS BIGINT) AS energy, CAST(MAX(abs(v)) AS BIGINT) AS peak " +
        "FROM s GROUP BY 1, 2), " +
        "f AS (SELECT doc_id, win, peak, " +
        "(energy < 300000000 * n_samples) AS silent FROM w) " +
        "SELECT doc_id, COUNT(*) AS n_windows, " +
        "CAST(SUM(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent, " +
        "CAST(SUM(CASE WHEN peak >= 32000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped, " +
        "MIN(CASE WHEN NOT silent THEN win END) AS first_active, " +
        "MAX(CASE WHEN NOT silent THEN win END) AS last_active " +
        "FROM f GROUP BY doc_id ORDER BY doc_id"),

    // analytic multi-frame replay: every 2nd frame of the animated GIF,
    // pixel i of frame f = (doc_id*31 + f*97 + i*7) % 256 — container,
    // LZW stream, palette and frame order must all decode right
    "multimodal_frames_gif" ->
      ("SELECT doc_id, frame_idx, n_frames, width, height, " +
        "CAST(list_sum(px) AS BIGINT) AS px_sum, " +
        "CAST(list_sum(list_transform(range(0, CAST(n_pixels AS INT)), i -> i * px[i+1])) AS BIGINT) AS px_posw, " +
        "CAST(list_min(px) AS BIGINT) AS px_min, " +
        "CAST(list_max(px) AS BIGINT) AS px_max " +
        "FROM (SELECT doc_id, frame_idx, n_frames, width, height, n_pixels, " +
        "list_transform(range(0, CAST(n_pixels AS INT)), i -> (doc_id*31 + frame_idx*97 + i*7) % 256) AS px " +
        "FROM (SELECT doc_id, unnest(range(0, n_frames, 2)) AS frame_idx, n_frames, width, height, " +
        "width * height AS n_pixels " +
        "FROM (SELECT doc_id, (n_chars % 4) + 2 AS n_frames, " +
        "(n_chars % 8) + 4 AS width, (n_chars % 6) + 4 AS height FROM documents))) " +
        "ORDER BY doc_id, frame_idx"),

    // analytic pixel replay → per-source normalization constants
    "multimodal_norm_stats" ->
      ("WITH dims AS (SELECT doc_id, source, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, source, unnest(range(0, w * h)) AS i FROM dims), " +
        "pv AS (SELECT doc_id, source, (doc_id*31 + i*7) % 256 AS g FROM px), " +
        "agg AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_images, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pixels, " +
        "SUM(CAST(g AS DECIMAL(38,0))) AS sg, " +
        "SUM(CAST(g AS DECIMAL(38,0)) * g) AS ssg, " +
        "CAST(MIN(g) AS BIGINT) AS min_gray, CAST(MAX(g) AS BIGINT) AS max_gray " +
        "FROM pv GROUP BY 1) " +
        "SELECT source, n_images, n_pixels, min_gray, max_gray, " +
        "CAST(CAST(sg AS VARCHAR) AS DOUBLE) / n_pixels AS mean_gray, " +
        "sqrt((n_pixels * CAST(CAST(ssg AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sg AS VARCHAR) AS DOUBLE) * CAST(CAST(sg AS VARCHAR) AS DOUBLE)) / " +
        "(n_pixels * CAST(n_pixels AS DOUBLE))) AS std_gray " +
        "FROM agg ORDER BY source"),

    // analytic gray histogram + bitlen surrogate replay
    "multimodal_entropy" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w * h AS n, unnest(range(0, w * h)) AS i FROM dims), " +
        "hc AS (SELECT doc_id, n, (doc_id*31 + i*7) % 256 AS g, COUNT(*) AS c " +
        "FROM px GROUP BY 1, 2, 3) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_pixels, " +
        "CAST(COUNT(*) AS BIGINT) AS n_grays, CAST(MAX(c) AS BIGINT) AS max_count, " +
        "CAST(SUM(c * (length(bin(n // c)) - 1)) AS BIGINT) AS ent_surrogate " +
        "FROM hc GROUP BY doc_id, n ORDER BY doc_id"),

    // Otsu replay: analytic gray histogram, cumulative (w0, s0) over
    // the per-doc gray grid, the identical ×1024 integer score,
    // (score DESC, t ASC) window pick
    "multimodal_otsu" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w * h AS n, unnest(range(0, w * h)) AS i FROM dims), " +
        "hc AS (SELECT doc_id, n, (doc_id*31 + i*7) % 256 AS g, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM px GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, CAST(SUM(g * c) AS BIGINT) AS s FROM hc GROUP BY 1), " +
        "cum AS (SELECT doc_id, n, g, " +
        "CAST(SUM(c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS w0, " +
        "CAST(SUM(g * c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS s0 " +
        "FROM hc), " +
        "sc AS (SELECT c.doc_id, c.n, c.g AS t, c.w0, c.s0, " +
        "((c.s0 * c.n - c.w0 * tot.s) * (c.s0 * c.n - c.w0 * tot.s) * 1024) " +
        "// (c.w0 * (c.n - c.w0)) AS score " +
        "FROM cum c JOIN tot USING (doc_id) " +
        "WHERE c.g < 255 AND c.w0 > 0 AND c.w0 < c.n), " +
        "best AS (SELECT doc_id, n, t, w0, s0, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t ASC) AS rn " +
        "FROM sc) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_pixels, CAST(t AS BIGINT) AS otsu_t, " +
        "w0 AS n_below, s0 AS sum_below FROM best WHERE rn = 1 ORDER BY doc_id"),

    // Otsu-binarize replay: the otsu CTEs pick t, then the foreground
    // census + position-weighted digest over the analytic pixel grid
    "multimodal_otsu_binarize" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w * h AS n, unnest(range(0, w * h)) AS i FROM dims), " +
        "pt AS (SELECT doc_id, n, i, (doc_id*31 + i*7) % 256 AS g FROM px), " +
        "hc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM pt GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, CAST(SUM(g * c) AS BIGINT) AS s FROM hc GROUP BY 1), " +
        "cum AS (SELECT doc_id, n, g, " +
        "CAST(SUM(c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS w0, " +
        "CAST(SUM(g * c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS s0 " +
        "FROM hc), " +
        "sc AS (SELECT c.doc_id, c.n, c.g AS t, " +
        "((c.s0 * c.n - c.w0 * tot.s) * (c.s0 * c.n - c.w0 * tot.s) * 1024) " +
        "// (c.w0 * (c.n - c.w0)) AS score " +
        "FROM cum c JOIN tot USING (doc_id) " +
        "WHERE c.g < 255 AND c.w0 > 0 AND c.w0 < c.n), " +
        "best AS (SELECT doc_id, n, t, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t ASC) AS rn " +
        "FROM sc) " +
        "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_pixels, " +
        "CAST(b.t AS BIGINT) AS otsu_t, " +
        "CAST(COALESCE(SUM(CASE WHEN pt.g > b.t THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fg, " +
        "CAST(COALESCE(SUM(CASE WHEN pt.g > b.t THEN pt.g ELSE 0 END), 0) AS BIGINT) AS fg_sum_gray, " +
        "CAST(COALESCE(SUM(CASE WHEN pt.g > b.t THEN pt.i ELSE 0 END), 0) AS BIGINT) AS fg_posw " +
        "FROM best b JOIN pt ON pt.doc_id = b.doc_id " +
        "WHERE b.rn = 1 GROUP BY 1, 2, 3 ORDER BY b.doc_id"),

    // fg-bbox replay: the otsu CTEs pick t, min/max fg coordinates,
    // exact ppm fill over the box area
    "multimodal_fg_bbox" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w, w * h AS n, unnest(range(0, w * h)) AS i FROM dims), " +
        "pt AS (SELECT doc_id, n, i % w AS x, i // w AS y, " +
        "(doc_id*31 + i*7) % 256 AS g FROM px), " +
        "hc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM pt GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, CAST(SUM(g * c) AS BIGINT) AS s FROM hc GROUP BY 1), " +
        "cum AS (SELECT doc_id, n, g, " +
        "CAST(SUM(c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS w0, " +
        "CAST(SUM(g * c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS s0 " +
        "FROM hc), " +
        "sc AS (SELECT c.doc_id, c.n, c.g AS t, " +
        "((c.s0 * c.n - c.w0 * tot.s) * (c.s0 * c.n - c.w0 * tot.s) * 1024) " +
        "// (c.w0 * (c.n - c.w0)) AS score " +
        "FROM cum c JOIN tot USING (doc_id) " +
        "WHERE c.g < 255 AND c.w0 > 0 AND c.w0 < c.n), " +
        "best AS (SELECT doc_id, n, t, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t ASC) AS rn " +
        "FROM sc), " +
        "fg AS (SELECT b.doc_id, b.n, b.t, " +
        "CAST(MIN(pt.x) AS BIGINT) AS min_x, CAST(MIN(pt.y) AS BIGINT) AS min_y, " +
        "CAST(MAX(pt.x) AS BIGINT) AS max_x, CAST(MAX(pt.y) AS BIGINT) AS max_y, " +
        "CAST(COUNT(*) AS BIGINT) AS n_fg " +
        "FROM best b JOIN pt ON pt.doc_id = b.doc_id " +
        "WHERE b.rn = 1 AND pt.g > b.t GROUP BY 1, 2, 3) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_pixels, CAST(t AS BIGINT) AS otsu_t, " +
        "min_x, min_y, max_x, max_y, n_fg, " +
        "CAST((n_fg * 1000000) // ((max_x - min_x + 1) * (max_y - min_y + 1)) AS BIGINT) AS fill_ppm " +
        "FROM fg ORDER BY doc_id"),

    // RLE replay: the otsu CTEs pick t, then gaps-and-islands runs
    // per scanline (grp = x − row_number over fg pixels of the row)
    "multimodal_rle" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w, w * h AS n, unnest(range(0, w * h)) AS i FROM dims), " +
        "pt AS (SELECT doc_id, w, n, i, i % w AS x, i // w AS y, " +
        "(doc_id*31 + i*7) % 256 AS g FROM px), " +
        "hc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM pt GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, CAST(SUM(g * c) AS BIGINT) AS s FROM hc GROUP BY 1), " +
        "cum AS (SELECT doc_id, n, g, " +
        "CAST(SUM(c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS w0, " +
        "CAST(SUM(g * c) OVER (PARTITION BY doc_id ORDER BY g) AS BIGINT) AS s0 " +
        "FROM hc), " +
        "sc AS (SELECT c.doc_id, c.n, c.g AS t, " +
        "((c.s0 * c.n - c.w0 * tot.s) * (c.s0 * c.n - c.w0 * tot.s) * 1024) " +
        "// (c.w0 * (c.n - c.w0)) AS score " +
        "FROM cum c JOIN tot USING (doc_id) " +
        "WHERE c.g < 255 AND c.w0 > 0 AND c.w0 < c.n), " +
        "best AS (SELECT doc_id, n, t, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t ASC) AS rn " +
        "FROM sc), " +
        "fg AS (SELECT pt.doc_id, pt.y, pt.x, " +
        "ROW_NUMBER() OVER (PARTITION BY pt.doc_id, pt.y ORDER BY pt.x) AS rn " +
        "FROM pt JOIN best b ON pt.doc_id = b.doc_id " +
        "WHERE b.rn = 1 AND pt.g > b.t), " +
        "runs AS (SELECT doc_id, y, x - rn AS grp, CAST(COUNT(*) AS BIGINT) AS len " +
        "FROM fg GROUP BY 1, 2, 3), " +
        "agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs, " +
        "CAST(MAX(len) AS BIGINT) AS max_run, " +
        "CAST(SUM(len * len) AS BIGINT) AS run_sq_sum FROM runs GROUP BY 1) " +
        "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_pixels, " +
        "CAST(b.t AS BIGINT) AS otsu_t, " +
        "CAST(COALESCE(a.n_runs, 0) AS BIGINT) AS n_runs, " +
        "CAST(COALESCE(a.max_run, 0) AS BIGINT) AS max_run, " +
        "CAST(COALESCE(a.run_sq_sum, 0) AS BIGINT) AS run_sq_sum " +
        "FROM best b LEFT JOIN agg a USING (doc_id) " +
        "WHERE b.rn = 1 ORDER BY b.doc_id"),

    // patchify replay: analytic pixels grouped by even-cropped 2×2
    // patch coordinates, integer means, patch-index digests
    "multimodal_patchify" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM dims), " +
        "pt AS (SELECT doc_id, w, h, i % w AS x, i // w AS y, " +
        "(doc_id*31 + i*7) % 256 AS g FROM px), " +
        "cp AS (SELECT doc_id, w // 2 AS pw, x // 2 AS px2, y // 2 AS py2, g " +
        "FROM pt WHERE x < 2 * (w // 2) AND y < 2 * (h // 2)), " +
        "pm AS (SELECT doc_id, pw, py2, px2, SUM(g) // 4 AS m " +
        "FROM cp GROUP BY 1, 2, 3, 4) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_patches, " +
        "CAST(SUM(m) AS BIGINT) AS mean_sum, " +
        "CAST(SUM((py2 * pw + px2) * m) AS BIGINT) AS mean_posw, " +
        "CAST(MIN(m) AS BIGINT) AS mean_min, " +
        "CAST(MAX(m) AS BIGINT) AS mean_max " +
        "FROM pm GROUP BY doc_id ORDER BY doc_id"),

    // Sobel replay: analytic pixels, the nine-tap kernels spelled out
    // over the interior raster index, |Gx|+|Gy| digests
    "multimodal_sobel" -> {
      def g(dx: Int, dy: Int) =
        s"((doc_id*31 + ((y + ${dy})*w + (x + ${dx}))*7) % 256)"
      val gx = s"((${g(1, -1)} + 2*${g(1, 0)} + ${g(1, 1)}) - " +
        s"(${g(-1, -1)} + 2*${g(-1, 0)} + ${g(-1, 1)}))"
      val gy = s"((${g(-1, 1)} + 2*${g(0, 1)} + ${g(1, 1)}) - " +
        s"(${g(-1, -1)} + 2*${g(0, -1)} + ${g(1, -1)}))"
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "ii AS (SELECT doc_id, w, h, " +
        "unnest(range(0, (w - 2) * (h - 2))) AS idx FROM dims), " +
        "pt AS (SELECT doc_id, w, h, idx, 1 + idx % (w - 2) AS x, " +
        "1 + idx // (w - 2) AS y FROM ii), " +
        s"mg AS (SELECT doc_id, w, h, idx, abs($gx) + abs($gy) AS m FROM pt) " +
        "SELECT doc_id, CAST(MAX(w * h) AS BIGINT) AS n_pixels, " +
        "CAST(MAX((w - 2) * (h - 2)) AS BIGINT) AS n_interior, " +
        "CAST(SUM(m) AS BIGINT) AS edge_energy, " +
        "CAST(MAX(m) AS BIGINT) AS grad_max, " +
        "CAST(SUM(idx * m) AS BIGINT) AS grad_posw " +
        "FROM mg GROUP BY doc_id ORDER BY doc_id")
    },

    // hist-eq replay: analytic pixels → per-doc CDF window → the same
    // integer LUT formula → position-weighted digests
    "multimodal_hist_eq" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w * h AS n, unnest(range(0, w * h)) AS i FROM dims), " +
        "gv AS (SELECT doc_id, n, i, (doc_id*31 + i*7) % 256 AS g FROM px), " +
        "hc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM gv GROUP BY 1, 2, 3), " +
        "cd AS (SELECT doc_id, n, g, c, SUM(c) OVER (PARTITION BY doc_id " +
        "ORDER BY g ROWS UNBOUNDED PRECEDING) AS cdf FROM hc), " +
        "cm AS (SELECT doc_id, MIN(cdf) AS cdf_min FROM cd GROUP BY 1), " +
        "gi AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grays_in FROM hc GROUP BY 1), " +
        "lut AS (SELECT cd.doc_id, cd.g, CASE WHEN cd.n > cm.cdf_min THEN " +
        "((cd.cdf - cm.cdf_min) * 255) // (cd.n - cm.cdf_min) ELSE 0 END AS v " +
        "FROM cd JOIN cm USING (doc_id)), " +
        "ev AS (SELECT gv.doc_id, gv.n, gv.i, lut.v FROM gv " +
        "JOIN lut ON gv.doc_id = lut.doc_id AND gv.g = lut.g) " +
        "SELECT ev.doc_id, CAST(MAX(ev.n) AS BIGINT) AS n_pixels, " +
        "MAX(gi.n_grays_in) AS n_grays_in, " +
        "CAST(COUNT(DISTINCT ev.v) AS BIGINT) AS n_grays_out, " +
        "CAST(SUM(ev.v) AS BIGINT) AS eq_sum, " +
        "CAST(SUM(ev.i * ev.v) AS BIGINT) AS eq_posw, " +
        "CAST(MIN(ev.v) AS BIGINT) AS eq_min, " +
        "CAST(MAX(ev.v) AS BIGINT) AS eq_max " +
        "FROM ev JOIN gi ON ev.doc_id = gi.doc_id " +
        "GROUP BY ev.doc_id ORDER BY ev.doc_id"),

    // letterbox replay: per-row/column ranges from the analytic pixel
    // formula, run lengths via min/max over the non-flat indices;
    // threshold from the SAME Multimodal.LetterboxSpread constant
    "multimodal_letterbox" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "px AS (SELECT doc_id, w, h, unnest(range(0, w*h)) AS i FROM dims), " +
        "pv AS (SELECT doc_id, w, h, i // w AS y, i % w AS x, " +
        "(doc_id*31 + i*7) % 256 AS v FROM px), " +
        s"rs AS (SELECT doc_id, w, h, y, MAX(v) - MIN(v) <= ${Multimodal.LetterboxSpread} AS f " +
        "FROM pv GROUP BY 1, 2, 3, 4), " +
        s"cs AS (SELECT doc_id, w, x, MAX(v) - MIN(v) <= ${Multimodal.LetterboxSpread} AS f " +
        "FROM pv GROUP BY 1, 2, 3), " +
        "ra AS (SELECT doc_id, w, h, MIN(CASE WHEN NOT f THEN y END) AS mnr, " +
        "MAX(CASE WHEN NOT f THEN y END) AS mxr FROM rs GROUP BY 1, 2, 3), " +
        "ca AS (SELECT doc_id, MIN(CASE WHEN NOT f THEN x END) AS mnc, " +
        "MAX(CASE WHEN NOT f THEN x END) AS mxc FROM cs GROUP BY 1) " +
        "SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
        "CAST(COALESCE(mnr, h) AS BIGINT) AS top_rows, " +
        "CAST(CASE WHEN mnr IS NULL THEN 0 ELSE h - 1 - mxr END AS BIGINT) AS bottom_rows, " +
        "CAST(COALESCE(mnc, w) AS BIGINT) AS left_cols, " +
        "CAST(CASE WHEN mnc IS NULL THEN 0 ELSE w - 1 - mxc END AS BIGINT) AS right_cols " +
        "FROM ra JOIN ca USING (doc_id) ORDER BY doc_id"),

    // Laplacian replay over the analytic pixel formula: every neighbor
    // value is computed inline from g(j) = (doc_id·31 + j·7) % 256 —
    // no join, pure integer convolution; the ENGINE still decodes real
    // bytes, so a codec regression fails the compare
    "multimodal_blur" -> {
      def g(j: String) = s"((doc_id*31 + ($j)*7) % 256)"
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, " +
        "(n_chars % 7) + 4 AS h FROM documents), " +
        "it AS (SELECT doc_id, w, h, unnest(range(0, (w-2)*(h-2))) AS t FROM dims), " +
        "ix AS (SELECT doc_id, w, h, (1 + t // (w-2)) * w + 1 + t % (w-2) AS i FROM it), " +
        "l AS (SELECT doc_id, w * h AS n_pixels, (w-2)*(h-2) AS n_interior, " +
        s"4*${g("i")} - ${g("i-1")} - ${g("i+1")} - ${g("i-w")} - ${g("i+w")} AS lap " +
        "FROM ix) " +
        "SELECT doc_id, CAST(n_pixels AS BIGINT) AS n_pixels, " +
        "CAST(n_interior AS BIGINT) AS n_interior, " +
        "CAST(SUM(lap*lap) AS BIGINT) AS lap_sq_sum, " +
        "CAST(1000 * SUM(lap*lap) // greatest(n_interior, 1) AS BIGINT) AS sharp_milli " +
        "FROM l GROUP BY doc_id, n_pixels, n_interior ORDER BY doc_id")
    },

    // SAD over the analytic frame pixels; integer threshold compare
    "multimodal_scenecut" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 4) + 2 AS n_frames, " +
        "(n_chars % 8) + 4 AS width, (n_chars % 6) + 4 AS height FROM documents), " +
        "f AS (SELECT doc_id, unnest(range(0, n_frames)) AS fi, " +
        "width * height AS n_pixels FROM dims), " +
        "p AS (SELECT doc_id, fi, n_pixels, " +
        "list_transform(range(0, CAST(n_pixels AS INT)), i -> " +
        "(doc_id*31 + fi*97 + i*7) % 256) AS px FROM f), " +
        "d AS (SELECT a.doc_id, a.fi AS frame_from, b.fi AS frame_to, a.n_pixels, " +
        "CAST(list_sum(list_transform(range(0, CAST(a.n_pixels AS INT)), i -> " +
        "abs(a.px[i+1] - b.px[i+1]))) AS BIGINT) AS sad " +
        "FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.fi = a.fi + 1) " +
        "SELECT doc_id, frame_from, frame_to, CAST(n_pixels AS BIGINT) AS n_pixels, " +
        "sad, sad >= 64 * n_pixels AS is_cut FROM d ORDER BY doc_id, frame_from"),

    // Lossy JPEG leg: dims/pixel/byte counts replay analytically; the
    // error-band verdict is asserted as literal TRUE — DuckDB cannot
    // decode JPEG, so the boolean IS the contract (a decode regression
    // flips it on the Spark side and the hash mismatches).
    "multimodal_decode_jpeg" ->
      ("SELECT doc_id, length(text) AS n_bytes, " +
        "(n_chars % 9) + 8 AS width, (n_chars % 6) + 8 AS height, " +
        "((n_chars % 9) + 8) * ((n_chars % 6) + 8) AS n_pixels, " +
        "CAST(8 AS BIGINT) AS err_band, TRUE AS within_band " +
        "FROM documents ORDER BY doc_id"),

    // dHash replay: 9×8 NN grid over the analytic pixels (same dx*w/9,
    // dy*h/8 mapping as the resize legs), one bit per adjacent grid
    // pair packed low-bit-first into four 16-bit bands (never one
    // 64-bit word — DuckDB's signed << overflows at bit 63), then
    // exact-fingerprint grouping with canonical = min doc_id.
    "multimodal_dhash" ->
      ("WITH dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, (n_chars % 7) + 4 AS h FROM documents), " +
        "grid AS (SELECT doc_id, list_transform(range(0,72), gi -> " +
        "(doc_id*31 + ((((gi // 9) * h) // 8) * w + (((gi % 9) * w) // 9)) * 7) % 256) AS g FROM dims), " +
        "bands AS (SELECT doc_id, " +
        (0 until 4).map { k =>
          s"CAST(list_sum(list_transform(range(0,16), j -> " +
            s"CASE WHEN g[(${2 * k} + j//8)*9 + (j%8) + 1] > g[(${2 * k} + j//8)*9 + (j%8) + 2] " +
            s"THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS b$k"
        }.mkString(", ") +
        " FROM grid), " +
        "grp AS (SELECT b0, b1, b2, b3, MIN(doc_id) AS canon, COUNT(*) AS group_n " +
        "FROM bands GROUP BY 1, 2, 3, 4) " +
        "SELECT doc_id, b0, b1, b2, b3, canon, group_n, doc_id = canon AS is_canonical " +
        "FROM bands JOIN grp USING (b0, b1, b2, b3) ORDER BY doc_id"),

    // pHash replay: analytic 8×8 gray grid, the SAME 64 fixed-point DCT
    // basis integers the engine's table holds (embedded as one literal
    // list — drift is impossible), nearest-rank AC median, band bits,
    // exact-fingerprint grouping.
    "multimodal_phash" -> (
      s"WITH $sqlPhashBandsCtes, " +
        "grp AS (SELECT p0, p1, p2, p3, MIN(doc_id) AS canon, COUNT(*) AS group_n " +
        "FROM bands GROUP BY 1, 2, 3, 4) " +
        "SELECT doc_id, p0, p1, p2, p3, median_ac, canon, group_n, " +
        "doc_id = canon AS is_canonical " +
        "FROM bands JOIN grp USING (p0, p1, p2, p3) ORDER BY doc_id"),

    // pHash Hamming pairs (round 12): the "second pass over survivors"
    // the dHash/pHash docs promise — band-exact pigeonhole candidates
    // + exact bit_count Hamming verify, same constants
    "multimodal_phash_pairs" -> (
      s"WITH $sqlPhashBandsCtes, " +
        "cand AS (SELECT DISTINCT doc_a, doc_b FROM (" +
        (0 until 4).map { k =>
          s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
            s"JOIN bands b ON a.p$k = b.p$k AND a.doc_id < b.doc_id"
        }.mkString(" UNION ALL ") + ")), " +
        "hv AS (SELECT c.doc_a, c.doc_b, CAST(" +
        (0 until 4).map(k => s"bit_count(xor(x.p$k, y.p$k))").mkString(" + ") +
        " AS BIGINT) AS hamming FROM cand c " +
        "JOIN bands x ON c.doc_a = x.doc_id JOIN bands y ON c.doc_b = y.doc_id) " +
        s"SELECT doc_a, doc_b, hamming FROM hv WHERE hamming <= ${graft.operators.Multimodal.PhashMaxHamming} " +
        "ORDER BY doc_a, doc_b")
  )

  /** Shared pHash front (analytic grid → fixed-point DCT → median →
    * 4×16-bit bands) — consumed by the group oracle and the Hamming
    * pair oracle. */
  /** sim_ann_hnsw_build oracle: the exhaustive-beam construction replay
    * (see the queries entry). Base CTEs: the first `n` nonzero-norm
    * quantized vectors with insertion positions, md5 level draws
    * (trailing-zero pairs of the 28-bit digest prefix — levelOf
    * verbatim), and the full directed pairwise cosine table (exact
    * long dot, one IEEE division — the sqlBruteForceTopK arithmetic).
    * Then one unrolled step per insert i: links = top cap(lev) prior
    * nodes per layer 0..min(lvl_i, max prior lvl) by (cos DESC, id),
    * edges = previous ∪ both directions of the links, each (owner,
    * lev) directed list re-capped by (cos-to-owner DESC, id) — the
    * uniform form of NswIndex.trim (idempotent on under-cap lists). */
  private def sqlHnswBuild(n: Int, m: Int, maxLevel: Int): String = {
    val cap0 = 2 * m
    // t = trailing zeros of (h | 2^28); 29 exhaustive branches
    val tz = (0 to 28).map(b =>
      s"WHEN (hh & ${1L << b}) != 0 THEN $b").mkString(" ")
    val capCase = s"(CASE WHEN lev = 0 THEN $cap0 ELSE $m END)"
    val head =
      s"WITH v0 AS MATERIALIZED (SELECT vec_id, " +
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v " +
        s"FROM embeddings WHERE vec_id < $n), " +
        "vn AS MATERIALIZED (SELECT vec_id, v, " +
        "list_sum(list_transform(v, x -> x*x)) AS nrm FROM v0), " +
        "nodes AS MATERIALIZED (SELECT vec_id, v, nrm, " +
        "CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS pos " +
        "FROM vn WHERE nrm > 0), " +
        "lvl AS MATERIALIZED (SELECT pos, vec_id, least(t // 2, " +
        s"$maxLevel) AS lvl FROM (SELECT pos, vec_id, CASE $tz END AS t " +
        "FROM (SELECT pos, vec_id, " +
        "CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 7)) AS BIGINT) " +
        s"| ${1L << 28} AS hh FROM nodes)) ), " +
        "cosij AS MATERIALIZED (SELECT a.pos AS a, b.pos AS b, " +
        "CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE) " +
        "/ (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos " +
        "FROM nodes a JOIN nodes b ON a.pos != b.pos), " +
        "e0 AS MATERIALIZED (SELECT CAST(NULL AS INTEGER) AS owner, " +
        "CAST(NULL AS BIGINT) AS lev, CAST(NULL AS INTEGER) AS nb WHERE FALSE)"
    val steps = (1 until n).map { i =>
      s"li$i AS MATERIALIZED (SELECT lev, nb FROM (" +
        "SELECT g.lev AS lev, j.pos AS nb, " +
        "row_number() OVER (PARTITION BY g.lev ORDER BY c.cos DESC, j.vec_id) AS rk " +
        s"FROM (SELECT unnest(range(0, 1 + least(" +
        s"(SELECT lvl FROM lvl WHERE pos = $i), " +
        s"(SELECT MAX(lvl) FROM lvl WHERE pos < $i)))) AS lev) g " +
        s"JOIN lvl j ON j.pos < $i AND j.lvl >= g.lev " +
        s"JOIN cosij c ON c.a = $i AND c.b = j.pos" +
        s") WHERE rk <= $capCase), " +
        s"e$i AS MATERIALIZED (SELECT owner, lev, nb FROM (" +
        "SELECT u.owner, u.lev, u.nb, " +
        "row_number() OVER (PARTITION BY u.owner, u.lev " +
        "ORDER BY c.cos DESC, w.vec_id) AS rk " +
        s"FROM (SELECT owner, lev, nb FROM e${i - 1} " +
        s"UNION ALL SELECT $i AS owner, lev, nb FROM li$i " +
        s"UNION ALL SELECT nb AS owner, lev, $i AS nb FROM li$i) u " +
        "JOIN cosij c ON c.a = u.owner AND c.b = u.nb " +
        "JOIN lvl w ON w.pos = u.nb" +
        s") WHERE rk <= $capCase)"
    }.mkString(", ")
    head + ", " + steps + " " +
      "SELECT o.vec_id, CAST(e.lev AS BIGINT) AS lev, w.vec_id AS nb_id " +
      s"FROM e${n - 1} e JOIN lvl o ON e.owner = o.pos " +
      "JOIN lvl w ON e.nb = w.pos ORDER BY 1, 2, 3"
  }

  private def sqlPhashBandsCtes: String = {
    val ct = graft.operators.Multimodal.dctTable.flatten.mkString("[", ", ", "]")
    "dims AS (SELECT doc_id, (n_chars % 13) + 4 AS w, (n_chars % 7) + 4 AS h FROM documents), " +
      s"ctab AS (SELECT $ct AS ct), " +
      "grid AS (SELECT doc_id, list_transform(range(0,64), gi -> " +
      "(doc_id*31 + ((((gi // 8) * h) // 8) * w + (((gi % 8) * w) // 8)) * 7) % 256) AS g FROM dims), " +
      "fc AS (SELECT doc_id, list_transform(range(0,64), i -> " +
      "list_sum(list_transform(range(0,64), rc -> " +
      "g[rc + 1] * ct[(i // 8) * 8 + (rc // 8) + 1] * ct[(i % 8) * 8 + (rc % 8) + 1]" +
      "))) AS f FROM grid, ctab), " +
      "fm AS (SELECT doc_id, f, list_sort(f[2:64])[32] AS med FROM fc), " +
      "bands AS (SELECT doc_id, " +
      (0 until 4).map { k =>
        s"CAST(list_sum(list_transform(range(0,16), j -> " +
          s"CASE WHEN (${16 * k} + j) != 0 AND f[${16 * k} + j + 1] > med " +
          s"THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS p$k"
      }.mkString(", ") +
      ", CAST(med AS BIGINT) AS median_ac FROM fm)"
  }
}
