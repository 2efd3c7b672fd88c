package graft

import graft.operators._
import graft.config.ExportConfig
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Registry: text analysis, corpus preparation and the dedup family —
  * extracted verbatim from SparkEntry (round 12 split). */
private[graft] trait RegistryCorpusText { this: SparkEntry.type =>

  protected def corpusTextQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Group B: text analysis -----------------------------------------

    "text_stats" -> ((s, d) =>
      TextAnalysis.textStats(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Tokenizer fertility per lang (round 13): subword tokens per
    // word — the multilingual context-budget metric (see
    // tokenizerFertility's scaladoc).
    "tokenizer_fertility" -> ((s, d) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, d))),

    // Quality-mix matrix (round 12): source × quarter-band counts of
    // the rule-based score (see qualityMix's scaladoc).
    "corpus_quality_mix" -> ((s, d) =>
      TextAnalysis.qualityMix(Tables.documents(s, d))),

    // Character-class profile (round 12): per-source composition
    // fingerprint, tiling classes, ppm shares (see charClassProfile's
    // scaladoc).
    "corpus_char_profile" -> ((s, d) =>
      TextAnalysis.charClassProfile(Tables.documents(s, d))),

    // Language-ID confidence audit (round 12): margin mass and tie
    // counts from the detector's own scores (see langIdMargin's
    // scaladoc).
    "text_langid_margin" -> ((s, d) =>
      TextAnalysis.langIdMargin(Tables.documents(s, d))),

    "text_langid" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Lang-ID accuracy audit (round 13): confusion matrix of the
    // detector vs the corpus's `lang` ground truth, per-language
    // recall in integer ppm (see langIdConfusion's scaladoc).
    "text_langid_confusion" -> ((s, d) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, d))),

    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Flesch readability (round 12): exact sentence/word/vowel-run
    // counts + the fixed-order Flesch formula — the reading-level face
    // of quality scoring.
    "text_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d))),

    // Gopher-rule audit (round 12): per-rule pass/fail counts, all
    // exact integer arithmetic (cross-multiplied ratio thresholds).
    "corpus_gopher_gates" -> ((s, d) =>
      TextAnalysis.gopherGates(Tables.documents(s, d))),

    // Hashed-n-gram LINEAR scorer (round 10, fastText-lineage): word
    // unigrams+bigrams hashed to 1024 buckets, fixed integer weight
    // table applied relationally — the learned-model complement to the
    // rule-based text_quality. Full oracle (md5-prefix hash + integer
    // weights replay end-to-end).
    "text_quality_model" -> ((s, d) =>
      TextAnalysis.qualityModel(Tables.documents(s, d))),

    // LM-perplexity filter (round 11, CCNet lineage): char-bigram model
    // trained on the corpus, −log₂ replaced by the integer bitlen
    // surrogate — alphabet²-bounded model broadcast back, one doc-keyed
    // shuffle. The third quality-filter family.
    "text_lm_perplexity" -> ((s, d) =>
      TextAnalysis.lmPerplexity(Tables.documents(s, d))),

    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Canonical normalization (round 7): NFC → lower → trim → whitespace
    // collapse, the pass before any fingerprinting; NFC semantics carried
    // by the native expression (unicode spec), composition by the oracle.
    "text_normalize" -> ((s, d) =>
      TextAnalysis.normalizeText(Tables.documents(s, d))),

    // Winnowing (MOSS) rolling-hash fingerprints: window-min of ordered
    // k-gram hashes — partial-overlap detection, full oracle (string-min
    // over md5 prefixes is engine-portable).
    "text_winnow_fingerprint" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d))),

    // Shared-fingerprint overlap pairs: copied passages / boilerplate
    // across otherwise-unrelated docs (what a whole-doc Jaccard
    // threshold misses); bounded-bucket candidates, full oracle.
    "dedup_winnow" -> ((s, d) =>
      Dedup.winnowOverlapPairs(Tables.documents(s, d))),

    // Gopher-style repetition quality: top-token share + duplicate-bigram
    // fraction, thresholded into a keep flag (narrow, zero-shuffle).
    "text_rep_quality" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // ---- Group B: corpus preparation ------------------------------------

    // Top-k corpus vocabulary by term frequency.
    "corpus_vocab" -> ((s, d) =>
      Corpus.vocabulary(Tables.documents(s, d))),

    // Cross-source duplicate matrix (round 15): shard pairs sharing
    // first-8-token prefix fingerprints — the mirror/shared-template
    // detector (see crossSourceDupMatrix's scaladoc).
    "dedup_cross_source" -> ((s, d) =>
      Corpus.crossSourceDupMatrix(Tables.documents(s, d))),

    // Keep-best resolution of the cross-source dup groups (round 15):
    // one survivor per prefix fingerprint by (source, doc_id) priority,
    // per-source kept/yielded census (see keepBestDedup's scaladoc).
    "dedup_keep_best" -> ((s, d) =>
      Corpus.keepBestDedup(Tables.documents(s, d))),

    // Interpolated Kneser-Ney bigram cost (round 15): continuation-
    // probability smoothing as exact rationals, bit-length log2
    // surrogate (see lmKneserNey's scaladoc).
    "text_lm_kneser_ney" -> ((s, d) =>
      TextAnalysis.lmKneserNey(Tables.documents(s, d))),

    // Linear counting (round 15): m-bit occupancy bitmap distinct
    // estimate, the deterministic 8-term series ln (see linearCount's
    // scaladoc).
    "sketch_linear_count" -> ((s, d) =>
      Sketches.linearCount(Tables.lineitem(s, d))),

    // Bloom mergeability audit (round 15): shard masks OR-merge to
    // exactly the global mask, unpacked to position arithmetic (see
    // bloomMergeAudit's scaladoc).
    "sketch_bloom_merge" -> ((s, d) =>
      Sketches.bloomMergeAudit(Tables.documents(s, d),
        cache = harnessScope)),

    // Source total-variation matrix (round 15): pairwise TV over the
    // top-32 vocab + OOV grid in exact ppm (see sourceTvMatrix's
    // scaladoc).
    "text_source_tv_matrix" -> ((s, d) =>
      Corpus.sourceTvMatrix(Tables.documents(s, d))),

    // Word-length histogram per language (round 15): the tokenizer-
    // sizing curve, clamped 17+ (see wordLenHist's scaladoc).
    "text_word_len_hist" -> ((s, d) =>
      Corpus.wordLenHist(Tables.documents(s, d))),

    // Hapax ratio per source (round 15): share of each shard's vocab
    // occurring exactly once — lexical richness/noise scalar (see
    // hapaxRatio's scaladoc).
    "text_hapax_ratio" -> ((s, d) =>
      Corpus.hapaxRatio(Tables.documents(s, d))),

    // Yule's K per source (round 16): the length-invariant repeat-rate
    // constant off the same tf relation — the token-grain duplication
    // smell (see yuleK's scaladoc).
    "text_yule_k" -> ((s, d) =>
      Corpus.yuleK(Tables.documents(s, d))),

    // Language × source mix (round 15): the corpus composition matrix
    // with char volume and per-source ppm shares (see langMix's
    // scaladoc).
    "corpus_lang_mix" -> ((s, d) =>
      Corpus.langMix(Tables.documents(s, d))),

    // Per-language top-10 bigrams by document frequency (WindowGroupLimit
    // top-k — never a full sort of the bigram vocabulary).
    "ngram_topk" -> ((s, d) =>
      Corpus.ngramTopK(Tables.documents(s, d))),

    // BPE tokenizer training head (round 9): 3 unrolled merge steps over
    // the vocab-bounded (word, count) table — pair stats via lead(),
    // greedy non-overlapping merge as an island-parity window pass, the
    // corpus touched exactly once (the word count). Top-5 pairs per step.
    // Shared trained state (round 11): reads the memoized BpeModel —
    // the chain trains once per (session, dataset) and both BPE views
    // read it (the bench times the build as memo:bpe_model).
    "tokenizer_bpe" -> ((s, d) =>
      operators.Tokenizer.bpeMergeStats(bpeModelShared(s, d), topK = 5)),

    // BPE ENCODE (round 13): the serving half — the shared trained
    // model's merge sequence applied to the HOLDOUT split (deployed
    // shape: train once, encode new text), per-piece-length profile
    // (see bpeEncodeProfile's scaladoc). Completes train/serve
    // symmetry across all three tokenizer families.
    "tokenizer_bpe_encode" -> ((s, d) =>
      operators.Tokenizer.bpeEncodeProfile(bpeModelShared(s, d),
        Tables.documents(s, d)
          .filter(Corpus.isHoldout(col("doc_id"))))),

    // Unigram-LM tokenizer training (round 10, SentencePiece-lineage):
    // substring seed inventory → 2 hard-EM rounds (Viterbi E-step as a
    // bounded DP unroll over word positions, usage-count M-step with
    // prune) under an integer-exact cost surrogate — the whole train
    // replays in SQL (sqlUnigram below). Output: the learned vocab head.
    // Round 11: reads the memoized trained model (memo:unigram_model) —
    // the 2-round EM runs once per (session, dataset), not per view.
    "tokenizer_unigram" -> ((s, d) => unigramModelShared(s, d).vocabHead()),

    // Encode-side profile (round 10): segment the corpus under the
    // FINAL trained vocab (a third Viterbi pass — what a deployed
    // tokenizer does to every document) and report the per-piece-length
    // profile; Σ chars_covered tiles the truncated corpus exactly.
    // Round 11: pays only its marginal E-step — the trained vocab comes
    // from the shared memoized model.
    "tokenizer_unigram_encode" -> ((s, d) =>
      unigramModelShared(s, d).encodeProfile()),

    // The compression curve those merges buy: corpus-weighted symbol
    // totals + alphabet size at step 0 and after each merge.
    "tokenizer_compression" -> ((s, d) =>
      operators.Tokenizer.bpeCompression(bpeModelShared(s, d))),

    // WordPiece greedy encode (round 11): the third tokenizer family —
    // longest-match-first over the deterministic frequency vocab, a
    // linear chain of broadcast-vocab joins (no DP, no backtrack);
    // same per-piece-length profile contract as the unigram encode.
    "tokenizer_wordpiece" -> ((s, d) =>
      operators.Tokenizer.wordpieceEncode(Tables.documents(s, d))),

    // WordPiece TRAINING (round 12): BPE's merge machinery under the
    // likelihood selection rule freq(ab)/(freq(a)·freq(b)) in exact
    // fixed-point — the learning half next to the encode above; the
    // full 3-step train replays in the oracle.
    "tokenizer_wordpiece_train" -> ((s, d) =>
      operators.Tokenizer.wordpieceTrainStats(Tables.documents(s, d),
        scope = harnessScope)),

    // Deterministic md5-keyed document sample (~12.5%).
    "doc_sample" -> ((s, d) =>
      Corpus.sampleDocs(Tables.documents(s, d))),

    // Per-source stratified sample: fixed md5-ordered quota per stratum
    // (WindowGroupLimit — no full per-source sort).
    "doc_sample_stratified" -> ((s, d) =>
      Corpus.stratifiedSample(Tables.documents(s, d))),

    // Weighted Bernoulli sample (round 9): inclusion ∝ n_tokens, all
    // integer (28-bit md5 prefix as the uniform draw) — narrow filter,
    // no shuffle; exact-rational inclusion probability emitted.
    "doc_sample_weighted" -> ((s, d) =>
      Corpus.sampleWeighted(Tables.documents(s, d))),

    // Inverted index (round 9): rarest-50 tokens → df, total tf, md5
    // posting-list digest; the token selection happens BEFORE the list
    // shuffle, so stop-word postings never materialize.
    "index_postings" -> ((s, d) =>
      Corpus.invertedIndex(Tables.documents(s, d))),

    // Term-weighted retrieval top-k (round 9): linear-idf scoring
    // (tf·N/df, bit-portable IEEE ops in fixed order), query tokens
    // filtered at the scan, global TakeOrdered top-20.
    "search_rank" -> ((s, d) =>
      Corpus.searchRank(Tables.documents(s, d))),

    // Deterministic train/test split keyed on doc_id.
    "train_test_split" -> ((s, d) =>
      Corpus.trainTestSplit(Tables.documents(s, d))),

    // Sequence packing: running-token-count bin per source shard.
    "seq_pack" -> ((s, d) =>
      Corpus.packSequences(Tables.documents(s, d))),

    // Vocabulary coverage curve (round 12): token-mass share by head
    // size (see vocabCoverageCurve's scaladoc).
    "corpus_vocab_curve" -> ((s, d) =>
      Corpus.vocabCoverageCurve(Tables.documents(s, d))),

    // Packing-efficiency audit (round 12): fill rate vs the optimal
    // bin count over the same assignment (see packEfficiency's
    // scaladoc).
    "seq_pack_efficiency" -> ((s, d) =>
      Corpus.packEfficiency(Tables.documents(s, d))),

    // Stride/overlap token-window chunking: 32-token windows every 24
    // tokens — purely narrow (posexploded per-row sequence, no shuffle).
    "doc_chunk" -> ((s, d) =>
      Corpus.chunkDocs(Tables.documents(s, d))),

    // Paragraph-level exact dedup: repeated 32-token windows removed
    // everywhere but their first (doc_id, chunk_id) occurrence.
    "dedup_paragraph" -> ((s, d) =>
      Dedup.paragraphDedup(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Duplicated-substring spans (round 9): every ≥8-token run occurring
    // more than once in the corpus, merged per doc into maximal spans —
    // the span-level curation pass whole-doc near-dup can't see.
    "dedup_substring" -> ((s, d) =>
      Dedup.substringDupSpans(Tables.documents(s, d),
        scope = harnessScope)),

    // Dataset mixture resampling: target weight of src<i> is i+1, so the
    // resample is exactly proportional to 1:2:...:20 under integer
    // quotas (k_s = p_s · min_s floor(n_s/p_s)), md5-prefix selection.
    "corpus_mix" -> ((s, d) =>
      Corpus.mixSources(Tables.documents(s, d),
        (0 until 20).map(i => s"src$i" -> (i + 1)).toMap)),

    // Temperature-scaled multilingual resampling (round 11, mT5/XLM-R
    // lineage): per-lang quota ∝ floor(√n) under integer arithmetic
    // (the α=1/2 surrogate), realized as full epochs + md5-prefix
    // extras — low-resource langs repeat, the head downsamples.
    "corpus_mix_temperature" -> ((s, d) =>
      Corpus.mixTemperature(Tables.documents(s, d))),

    // Contamination check: cross-set (train × test) near-duplicate text
    // — the decontamination pass between a corpus and its benchmark
    // split (threshold 0.3 so the fixture surfaces leaked pairs;
    // df-capped like dedup_fuzzy, cap mirrored in the oracle).
    "contamination_check" -> ((s, d) =>
      Corpus.contaminationCheck(Tables.documents(s, d), threshold = 0.3,
        maxDf = Some(100))),

    // STREAM-STATIC parity (round 12): the decontamination gate over a
    // multi-batch train-split replay vs the holdout benchmark — the
    // stateless streaming face under the full oracle (see
    // contaminationParityReplay's scaladoc).
    "stream_contamination_parity" -> ((s, d) => {
      val base = queryDir("stream_contam")
      graft.streaming.StreamingContamination.contaminationParityReplay(
        Tables.documents(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // COMPOSED-PIPELINE parity (round 13): the full streaming corpus
    // ingest — quality gate → decontamination → banded-MinHash
    // near-dup gate with its cross-batch survivor store — over a
    // 3-batch deterministic replay (batch = doc_id % 3), under one
    // oracle that folds the batch sequence as an unrolled CTE chain
    // (see corpusParityReplay's scaladoc). Closes the last spec-only
    // streaming module.
    "stream_corpus_parity" -> ((s, d) => {
      val base = queryDir("stream_corpus")
      graft.streaming.StreamingCorpus.corpusParityReplay(
        Tables.documents(s, d), s"$base/src", s"$base/store",
        s"$base/out", s"$base/ckpt", nFiles = 3)
    }),

    // Compacting replay (round 14): the SAME composed ingest with the
    // survivor store's horizon pruning LIVE (horizon = the stream's
    // own event-time span — finite, every per-batch cutoff computed
    // and applied, inert by construction) — hash-pins that compaction
    // drops nothing it shouldn't; the horizon-bites direction is
    // spec-tested (see corpusCompactReplay's scaladoc).
    "stream_corpus_compact" -> ((s, d) => {
      val base = queryDir("stream_compact")
      graft.streaming.StreamingCorpus.corpusCompactReplay(
        Tables.documents(s, d), s"$base/src", s"$base/store",
        s"$base/out", s"$base/ckpt", nFiles = 3)
    }),

    // Token-level (13-gram) decontamination — the whole-doc check's
    // blind-spot closer: a verbatim ≥13-token passage pasted into one
    // long training doc is caught here even when its shingles drown in
    // the whole-doc Jaccard. Gram hashes = winnow machinery at w=1.
    "contamination_ngram" -> ((s, d) =>
      Corpus.contaminationNgrams(Tables.documents(s, d),
        scope = harnessScope)),

    // Bloom-filter decontamination pre-gate (round 9): holdout 13-grams
    // fold into a 131072-bit OR-merged mask (16 KB, broadcast); training
    // grams take 5 O(1) bit probes — no join, no shuffle on the probe
    // side. md5-derived positions make even the false positives
    // deterministic and oracle-replayable.
    "contamination_bloom" -> ((s, d) =>
      Sketches.bloomDecontaminate(Tables.documents(s, d))),

    // Bloom FPR audit (round 12): measured false-positive rate of the
    // pre-gate at the gram level — the number that sizes mBits/nHash
    // (see bloomFprAudit's scaladoc).
    "sketch_bloom_fpr" -> ((s, d) =>
      Sketches.bloomFprAudit(Tables.documents(s, d))),

    // Count-Min heavy hitters (round 9): token frequencies from a
    // 4×1024 counter grid (bounded at any corpus size), graded against
    // the exact top-20 — overcounts are md5-deterministic and replay.
    "freq_cms" -> ((s, d) =>
      Sketches.cmsHeavyHitters(Tables.documents(s, d))),

    // HyperLogLog distinct-count sketch (round 10): per-returnflag
    // distinct part keys from 1024 registers — exact-long harmonic sum
    // + fixed-order IEEE estimate, so even the estimation ERROR
    // replays in the oracle. The third sketch beside Bloom + CMS.
    "sketch_hll_distinct" -> ((s, d) =>
      Sketches.hllDistinct(Tables.lineitem(s, d))),

    // Shingle-df histogram (round 13): the distribution that sizes the
    // dedup df-caps, with the dropped over-cap mass measured (see
    // dfHistogram's scaladoc).
    "dedup_df_histogram" -> ((s, d) =>
      Dedup.dfHistogram(Tables.documents(s, d))),

    // HLL mergeability audit (round 13): shard registers max-merge to
    // EXACTLY the global registers — the distributed-sketch identity,
    // proven not assumed (see hllMerge's scaladoc).
    "sketch_hll_merge" -> ((s, d) =>
      Sketches.hllMerge(Tables.lineitem(s, d))),

    // Quantile sketch (round 11): per-returnflag price percentiles from
    // a 256-row deterministic md5-keyed reservoir — bottom-k partial
    // aggregation (bounded state, map-side), nearest-rank extraction
    // inside the projection. The fourth sketch; even the sampling error
    // replays in the oracle.
    "sketch_quantiles" -> ((s, d) =>
      Sketches.quantileSketch(Tables.lineitem(s, d))),

    // Quantile-sketch MERGE audit (round 17): bottom-k by (hash, value)
    // is a monoid — per-shard samples re-ranked equal the global
    // sample exactly (n_mismatch = 0 is the law), percentiles served
    // from the merged state (see quantileMergeAudit's scaladoc).
    "sketch_quantile_merge" -> ((s, d) =>
      Sketches.quantileMergeAudit(Tables.lineitem(s, d))),

    // KMV/theta sketch (round 11): per-event-type distinct users AND the
    // click∩purchase audience overlap from two 64-row bottom-k
    // summaries — the set-expression sketch HLL can't provide. One
    // map-side-combined distinct + bounded-state partial aggregation;
    // even the estimation error replays in the oracle.
    // Theta A-NOT-B (round 16): the set-difference estimator from two
    // bounded sketches, both directions with exact audits (see
    // thetaAnotB's scaladoc).
    "sketch_theta_anotb" -> ((s, d) =>
      Sketches.thetaAnotB(Tables.events(s, d))),

    "sketch_theta" -> ((s, d) =>
      Sketches.thetaSketch(Tables.events(s, d))),

    // AMS F2 / tug-of-war (round 14): the self-join-size / skew
    // estimator from 64 md5-signed counters, self-audited against the
    // exact F2 (see amsF2's scaladoc).
    "sketch_ams_f2" -> ((s, d) =>
      Sketches.amsF2(Tables.lineitem(s, d))),

    // KMV-state parity (round 12): the flatMapGroupsWithState sketch
    // replayed over a user_id-ranged file stream, last update per
    // scope vs the batch bottom-k replay (see kmvParityReplay's
    // scaladoc) — order-insensitive state pinned to the oracle.
    "stream_sketch_parity" -> ((s, d) => {
      val base = queryDir("stream_kmv")
      graft.streaming.StreamingSketches.kmvParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // Corpus-relative token-frequency score (round 8): the web-pipeline
    // frequency filter — vocab counts + join back, exact integers.
    "text_corpus_freq" -> ((s, d) =>
      Corpus.corpusFreqScore(Tables.documents(s, d))),

    // Zipf rank-frequency fit (round 12): integer bitlen-log regression
    // over the vocabulary head — template-spam detector (see zipfFit's
    // scaladoc).
    "text_zipf_fit" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d))),

    // Token burstiness (round 16): Fano factor of per-doc counts over
    // the frequency head — content/function-word and template-flood
    // separator (see burstiness' scaladoc).
    "text_burstiness" -> ((s, d) =>
      TextAnalysis.burstiness(Tables.documents(s, d))),

    // Collocation mining (round 14): exact-rational lift over adjacent
    // bigrams, support-floored, global top-k via TakeOrdered (see
    // collocations' scaladoc).
    "text_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d))),

    // Deterministic per-epoch training order (round 8): per-shard md5
    // ranking + broadcast shard offsets — epoch shuffling without a
    // global sort.
    "corpus_epoch_order" -> ((s, d) =>
      Corpus.epochOrder(Tables.documents(s, d))),

    // The composed end-to-end pipeline: quality+repetition gate → exact
    // dedup → near-dup clustering → split. The whole composition is one
    // oracle-checked query, not just its stages.
    "corpus_pipeline" -> ((s, d) =>
      Corpus.corpusPipeline(Tables.documents(s, d), scope = harnessScope)),

    // Curation funnel report (round 14): per-stage doc/token attrition
    // of the composed pipeline — the same stage expressions, counted
    // instead of emitted (see funnelReport's scaladoc).
    "corpus_funnel_report" -> ((s, d) =>
      Corpus.funnelReport(Tables.documents(s, d), scope = harnessScope)),

    // Per-source corpus profile (dataset card): exact distinct counts
    // here for the oracle; the 100 TB swap-in is the HLL sketch form
    // (Corpus.approxCounts, spec-checked within its error bound).
    "corpus_stats" -> ((s, d) =>
      Corpus.corpusStats(Tables.documents(s, d))),

    // ---- Group B: dedup family ------------------------------------------

    // B2 dedup_fuzzy: exact n-gram Jaccard, shared-shingle blocking.
    // Registered WITH the document-frequency cap (maxDf=100): at corpus
    // scale one stop-shingle makes the blocking self-join quadratic, so
    // the scale-safe capped form is the shipped query; the oracle mirrors
    // the cap exactly (HAVING df <= 100 on the shingle CTE), keeping the
    // comparison exact. Capped-vs-uncapped equivalence under a loose cap
    // is spec-checked in DedupSimilaritySpec.
    // Round 7: the pair relation is memoized per (session, data dir) —
    // dedup_cluster consumes the SAME relation, so the harness computes
    // it once and both queries read the materialized result.
    "dedup_fuzzy" -> ((s, d) => nearDupPairsShared(s, d)),

    // Containment pairs (round 12): the subset-duplicate detector
    // Jaccard misses — asymmetric |A∩B|/|A| scoring over the same
    // df-capped bounded-bucket machinery (see containmentPairs'
    // scaladoc).
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), scope = harnessScope)),

    // Connected components over the near-dup pair graph: cluster_id =
    // min reachable doc_id, is_keeper = the one survivor per group.
    // Pairs → clusters is the step that makes dedup actionable (near-dup
    // similarity is not transitive; keep-one needs the closure). Oracle:
    // DuckDB recursive CTE over the same capped pair relation.
    // Round 7: clusters over the SHARED memoized pair relation (see
    // nearDupPairsShared) — identical output to recomputing the pairs,
    // minus the recompute.
    "dedup_cluster" -> ((s, d) =>
      Dedup.clustersFromPairs(Tables.documents(s, d), nearDupPairsShared(s, d))),

    // Dedup-rate audit (round 11): per-source suppressed counts +
    // within/cross pair split over the SAME memoized pair relation
    // (third consumer of memo:near_dup_pairs).
    "dedup_rate_report" -> ((s, d) =>
      Dedup.dedupRateReport(Tables.documents(s, d), nearDupPairsShared(s, d))),

    // Dedup threshold sensitivity curve (round 16): pair/dup-doc yield
    // at each candidate Jaccard gate, exact-rational compares, off the
    // shared pair memo (see thresholdCurve's scaladoc).
    "dedup_threshold_curve" -> ((s, d) =>
      Dedup.thresholdCurve(Tables.documents(s, d), nearDupPairsShared(s, d))),

    // N-gram novelty curve (round 11): novel = first-carrier via ONE
    // min-per-shingle aggregation — marginal content per doc, no
    // pairwise work.
    "text_ngram_novelty" -> ((s, d) =>
      Dedup.ngramNovelty(Tables.documents(s, d))),

    // Source-overlap matrix (round 11): gram-level mirror detection —
    // per-shingle carrier pairs (fan-out ≤ C(|sources|,2)), shared /
    // smaller-side containment.
    "corpus_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.documents(s, d))),

    // Cluster-size histogram (round 11): the dedup-audit shape report
    // (one giant blob = a boilerplate shingle slipped the df-cap);
    // fourth consumer of memo:near_dup_pairs.
    "dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizeHistogram(Tables.documents(s, d),
        nearDupPairsShared(s, d))),

    // MinHash-LSH banding + exact verify: the 100 TB scale path for
    // dedup_fuzzy. Round 7: the md5-affine portable hashing makes the
    // whole banded candidate set DuckDB-replayable — full oracle
    // (sqlMinHash), plus the recall/precision specs.
    // Band-occupancy audit (round 12): the skew report that sizes the
    // hot-bucket caps — per band, occupancy + implied candidate mass.
    "dedup_lsh_band_stats" -> ((s, d) =>
      Dedup.lshBandStats(Tables.documents(s, d))),

    "dedup_minhash" -> ((s, d) =>
      Dedup.minHashNearDupPairs(Tables.documents(s, d), threshold = 0.5,
        scope = harnessScope)),

    // MinHash estimator-error audit (round 12): signature-agreement
    // estimate vs exact Jaccard over the real candidate set — the
    // threshold-justifying number (see minHashEstimatorAudit's
    // scaladoc).
    "dedup_minhash_est_error" -> ((s, d) =>
      Dedup.minHashEstimatorAudit(Tables.documents(s, d),
        scope = harnessScope)),

    // SimHash fingerprint + banded Hamming near-dup pairs. Round 7: the
    // md5 token hash makes fingerprints, band keys and Hamming verify
    // all DuckDB-replayable — full oracle (sqlSimHash).
    "dedup_simhash" -> ((s, d) =>
      Dedup.simHashNearDupPairs(Tables.documents(s, d), scope = harnessScope)),

    // Candidate-cosine histogram (round 12): the threshold-calibration
    // audit over the SAME LSH candidate set the embedding gate uses
    // (see candidateCosHist's scaladoc).
    "dedup_embedding_cos_hist" -> ((s, d) =>
      Similarity.candidateCosHist(Tables.embeddings(s, d))),

    // Embedding near-dup: all-pairs cosine ≥ 0.4 over integer-quantized
    // vectors (bit-deterministic — full oracle).
    "dedup_embedding" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), threshold = 0.4)),

    // LSH-bucketed embedding near-dup (scale path). The deterministic
    // LCG hyperplanes are plain integer arithmetic, so the bucket
    // assignment — and with it the full candidate set + exact verify —
    // has a full DuckDB oracle (sqlLshBucketCte); recall spec-checked too.
    "dedup_embedding_lsh" -> ((s, d) =>
      Similarity.nearDupPairsLsh(Tables.embeddings(s, d))),

    // SEMANTIC dedup (round 10, SemDeDup-lineage): deterministic
    // seed-centroid clustering (the sim_ann_ivf_fixed quantizer), then
    // intra-cluster cosine pairs ONLY — bounded-bucket enumeration on
    // cent_id, greedy keep-lowest-id. The one major public dedup family
    // the board was missing (exact, MinHash, SimHash, winnow,
    // substring, paragraph, embedding-LSH all exist). Full oracle:
    // the centroid replay proven by sim_ann_ivf_fixed + the exact
    // quantized cosine.
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d))),

    // SemDeDup cluster-grain prune (round 14): within each seed
    // cluster keep only the centroid-nearest member above the cosine
    // cap — centroid-cosine only, NO pair relation (O(N·nlist), the
    // unconditional 100 TB form; see semanticPrune's scaladoc).
    "dedup_semantic_prune" -> ((s, d) =>
      Similarity.semanticPrune(Tables.embeddings(s, d))),

    // Semantic contamination (round 10): the embedding-level complement
    // to contamination_check/ngram/bloom — a paraphrased benchmark
    // answer shares no 13-gram but sits at high cosine. Same clustering
    // machinery as dedup_semantic, pairs kept only when they CROSS the
    // md5 holdout split; one row per test vector, flagged + clean
    // reconciles to the holdout size. Full oracle.
    "contamination_semantic" -> ((s, d) =>
      Similarity.semanticContamination(Tables.embeddings(s, d))),
  )

  /** stream_corpus_parity oracle: the composed ingest replayed as an
    * unrolled per-batch CTE fold (the k-core-peel doctrine — batch
    * boundaries are semantic here, so the fold is explicit). Front:
    * holdout 13-gram bench + contamination verdicts (the
    * stream_contamination_parity fragments verbatim), the shared
    * quality expression, then the minhash/band front restricted to
    * CLEAN docs (a gated doc must never produce bands). Per batch i:
    * store hits (bucket match vs the running store + ≥32/64 signature
    * agreement — threshold 0.5 exactly), greedy in-batch hits
    * (earlier-doc_id suppressors, store-suppressed docs excluded from
    * the suppressor side), survivors, store append. Signature
    * agreement is generated positionally like sqlMinHashEstError. */
  private def sqlStreamCorpusParity(nFiles: Int): String = {
    val p = graft.functions.PortableHash.MinHashP
    val params = graft.functions.PortableHash.minHashParams(64)
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * h + $b) % $p) AS m$i"
    }.mkString(", ")
    val bandSel = (0 until 16).map { bd =>
      val key = (0 until 4).map(r => s"CAST(m${bd * 4 + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, b, $bd AS band, $key AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    def agree(l: String, r: String) = (0 until 64)
      .map(i => s"(CASE WHEN $l.m$i = $r.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val head =
      "WITH t AS MATERIALIZED (SELECT doc_id, text, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS ntoks " +
        "FROM documents), " +
        "fps AS MATERIALIZED (SELECT doc_id, is_test, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(ntoks) - 12, 0) + 1), " +
        "i -> substring(md5(array_to_string(ntoks[i:i+12], ' ')), 1, 8)))) AS fp FROM t), " +
        "bench AS MATERIALIZED (SELECT DISTINCT fp FROM fps WHERE is_test), " +
        "contam AS MATERIALIZED (SELECT DISTINCT f.doc_id FROM fps f " +
        "JOIN bench USING (fp) WHERE NOT f.is_test), " +
        s"clean AS MATERIALIZED (SELECT doc_id, text, CAST(doc_id % $nFiles AS BIGINT) AS b FROM t " +
        s"WHERE NOT is_test AND $sqlQualityExpr >= 0.5 " +
        "AND doc_id NOT IN (SELECT doc_id FROM contam)), " +
        "ctoks AS MATERIALIZED (SELECT doc_id, b, string_split(text, ' ') AS t FROM clean), " +
        "csh AS MATERIALIZED (SELECT doc_id, b, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(t) - 1, 1)), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM ctoks), " +
        "hh AS MATERIALIZED (SELECT doc_id, b, " +
        "CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS h FROM csh), " +
        s"sig AS MATERIALIZED (SELECT doc_id, b, $mins FROM hh GROUP BY doc_id, b), " +
        s"bands AS MATERIALIZED ($bandSel), " +
        "st0 AS MATERIALIZED (SELECT doc_id, band, bucket FROM bands WHERE FALSE)"
    val steps = (0 until nFiles).map { i =>
      s"hit$i AS MATERIALIZED (SELECT DISTINCT x.doc_id FROM bands x " +
        s"JOIN st$i s ON x.band = s.band AND x.bucket = s.bucket " +
        "JOIN sig sx ON x.doc_id = sx.doc_id " +
        "JOIN sig ss ON s.doc_id = ss.doc_id " +
        s"WHERE x.b = $i AND (${agree("sx", "ss")}) >= 32), " +
        s"ib$i AS MATERIALIZED (SELECT DISTINCT x.doc_id FROM bands x " +
        "JOIN bands y ON x.band = y.band AND x.bucket = y.bucket " +
        "AND y.doc_id < x.doc_id " +
        "JOIN sig sx ON x.doc_id = sx.doc_id " +
        "JOIN sig sy ON y.doc_id = sy.doc_id " +
        s"WHERE x.b = $i AND y.b = $i " +
        s"AND y.doc_id NOT IN (SELECT doc_id FROM hit$i) " +
        s"AND (${agree("sx", "sy")}) >= 32), " +
        s"sv$i AS MATERIALIZED (SELECT doc_id FROM clean WHERE b = $i " +
        s"AND doc_id NOT IN (SELECT doc_id FROM hit$i) " +
        s"AND doc_id NOT IN (SELECT doc_id FROM ib$i)), " +
        s"st${i + 1} AS MATERIALIZED (SELECT doc_id, band, bucket FROM st$i " +
        s"UNION ALL SELECT k.doc_id, k.band, k.bucket FROM bands k " +
        s"JOIN sv$i USING (doc_id))"
    }.mkString(", ")
    val surv = (0 until nFiles).map(i => s"SELECT doc_id FROM sv$i")
      .mkString(" UNION ALL ")
    head + ", " + steps + " " +
      "SELECT c.doc_id, c.b AS batch_id, CAST(length(c.text) AS BIGINT) AS n_chars " +
      s"FROM clean c WHERE c.doc_id IN ($surv) ORDER BY c.doc_id"
  }

  /** The fixed-order quality score expression, shared by the
    * text_quality oracle and the quality-mix banding. */
  private def sqlQualityExpr: String =
    "(((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END) * 0.25 + " +
      "(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))) * 0.25) + " +
      "((CASE WHEN (CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' '))) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.25 + " +
      s"(CASE WHEN (CAST(len(list_filter(string_split(text,' '), t -> t IN ($sqlStopwords))) AS DOUBLE) / len(string_split(text,' '))) > 0.0 " +
      s"AND (CAST(len(list_filter(string_split(text,' '), t -> t IN ($sqlStopwords))) AS DOUBLE) / len(string_split(text,' '))) < 0.5 THEN 1.0 ELSE 0.0 END) * 0.25))"

  protected def corpusTextOracles: Map[String, String] = Map(
    // gopher-rule replay: same cross-multiplied integer thresholds;
    // each rule is one UNION ALL branch over the base expression CTE
    "corpus_gopher_gates" ->
      ("WITH b AS (SELECT " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS nw, " +
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alphaw, " +
        "CAST(len(list_intersect(list_distinct(string_split(text, ' ')), " +
        s"[$sqlStopwords])) AS BIGINT) AS stophits, " +
        "CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS syms " +
        "FROM documents), " +
        "r AS (SELECT nw BETWEEN 50 AND 100000 AS r1, " +
        "(3*nw <= chars AND chars <= 10*nw) AS r2, " +
        "(10*alphaw >= 8*nw) AS r3, (stophits >= 2) AS r4, " +
        "(10*syms <= nw) AS r5 FROM b) " +
        "SELECT rule, CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass, " +
        "CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_fail FROM (" +
        "SELECT '1_word_count' AS rule, r1 AS ok FROM r " +
        "UNION ALL SELECT '2_mean_word_len', r2 FROM r " +
        "UNION ALL SELECT '3_alpha_word_frac', r3 FROM r " +
        "UNION ALL SELECT '4_stopword_hits', r4 FROM r " +
        "UNION ALL SELECT '5_symbol_ratio', r5 FROM r " +
        "UNION ALL SELECT '6_all', r1 AND r2 AND r3 AND r4 AND r5 FROM r) " +
        "GROUP BY rule ORDER BY rule"),

    // readability replay: len(regexp_extract_all) ≡ Spark regexp_count
    // on these anchored-run patterns; the Flesch expression is the
    // identical operation tree (bit-identical doubles)
    "text_readability" ->
      ("SELECT doc_id, " +
        "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences, " +
        "CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables, " +
        "CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) > 0 THEN " +
        "206.835 - 1.015 * (CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE) " +
        "/ CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)) " +
        "- 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) " +
        "/ CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE)) END AS flesch " +
        "FROM documents ORDER BY doc_id"),

    "text_stats" ->
      (s"SELECT doc_id, length(text) AS n_chars_m, len(string_split(text,' ')) AS n_tokens, " +
        "len(list_distinct(string_split(text,' '))) AS n_distinct_tokens, " +
        "length(replace(text,' ','')) AS n_nonspace_chars, " +
        s"len(list_filter(string_split(text,' '), t -> t IN ($sqlStopwords))) AS n_stopwords, " +
        "CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS ttr, " +
        "CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' ')) AS avg_token_len " +
        "FROM documents ORDER BY doc_id"),

    // Fertility replay: same tokenizations rolled per lang, x1000 divs
    "tokenizer_fertility" ->
      ("WITH k AS (SELECT lang, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS w, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS t, " +
        "CAST(length(text) AS BIGINT) AS c FROM documents) " +
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(w) AS BIGINT) AS words, CAST(SUM(t) AS BIGINT) AS subword_tokens, " +
        "CAST(SUM(c) AS BIGINT) AS chars, " +
        "CAST((SUM(t) * 1000) // nullif(SUM(w), 0) AS BIGINT) AS fertility_x1000, " +
        "CAST((SUM(c) * 1000) // nullif(SUM(t), 0) AS BIGINT) AS chars_per_token_x1000 " +
        "FROM k GROUP BY lang ORDER BY lang"),

    "token_count" ->
      ("SELECT doc_id, len(string_split(text,' ')) AS ws_tokens, " +
        "len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens " +
        "FROM documents ORDER BY doc_id"),

    "text_langid" -> sqlLangId,

    "text_langid_confusion" -> sqlLangIdConfusion,

    // char-class replay: regexp counts per class, other = remainder
    "corpus_char_profile" ->
      ("WITH k AS (SELECT source, CAST(length(text) AS BIGINT) AS c, " +
        "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS l, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS d, " +
        "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS s " +
        "FROM documents) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(c) AS BIGINT) AS n_chars, CAST(SUM(l) AS BIGINT) AS n_letters, " +
        "CAST(SUM(d) AS BIGINT) AS n_digits, CAST(SUM(s) AS BIGINT) AS n_spaces, " +
        "CAST(SUM(c) - SUM(l) - SUM(d) - SUM(s) AS BIGINT) AS n_other, " +
        "CAST(SUM(l) * 1000000 // nullif(SUM(c), 0) AS BIGINT) AS letter_ppm, " +
        "CAST((SUM(c) - SUM(l) - SUM(d) - SUM(s)) * 1000000 // nullif(SUM(c), 0) AS BIGINT) AS other_ppm " +
        "FROM k GROUP BY 1 ORDER BY 1"),
    "text_langid_margin" -> sqlLangIdMargin,

    "tokenizer_unigram" -> sqlUnigram,

    "tokenizer_unigram_encode" -> sqlUnigramEncode,

    "tokenizer_wordpiece" -> sqlWordpiece,

    "tokenizer_wordpiece_train" -> sqlWordpieceTrain(steps = 3, topK = 5),

    "text_quality" ->
      (s"SELECT doc_id, $sqlQualityExpr AS quality " +
        "FROM documents ORDER BY doc_id"),

    // quality-mix replay: the SAME fixed-order score expression banded
    // into quarters, structural 4-band left join per source
    "corpus_quality_mix" ->
      (s"WITH q AS (SELECT source, $sqlQualityExpr AS quality FROM documents), " +
        "b AS (SELECT source, CASE WHEN quality < 0.25 THEN 'q0_low' " +
        "WHEN quality < 0.5 THEN 'q1_mid_low' " +
        "WHEN quality < 0.75 THEN 'q2_mid_high' ELSE 'q3_high' END AS band, " +
        "COUNT(*) AS n FROM q GROUP BY 1, 2), " +
        "bands AS (SELECT * FROM (VALUES ('q0_low'), ('q1_mid_low'), " +
        "('q2_mid_high'), ('q3_high')) AS t(band)), " +
        "src AS (SELECT DISTINCT source FROM documents) " +
        "SELECT src.source, bands.band, CAST(COALESCE(b.n, 0) AS BIGINT) AS n_docs " +
        "FROM src CROSS JOIN bands LEFT JOIN b " +
        "ON src.source = b.source AND bands.band = b.band " +
        "ORDER BY src.source, bands.band"),

    // char-bigram LM replay: bigram/first-char counts, bitlen surrogate
    // via length(bin(x)) — identical integer arithmetic in both engines
    "text_lm_perplexity" ->
      ("WITH t AS (SELECT doc_id, regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS t FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> substring(t, CAST(i AS INT), 2))) AS bg " +
        "FROM t WHERE len(t) >= 2), " +
        "cb AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY 1), " +
        "cu AS (SELECT substring(bg, 1, 1) AS u, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY 1), " +
        "m AS (SELECT cb.bg, CAST(length(bin(cu.cu)) - length(bin(cb.cb)) AS BIGINT) AS cost " +
        "FROM cb JOIN cu ON substring(cb.bg, 1, 1) = cu.u) " +
        "SELECT bg.doc_id, COUNT(*) AS n_bigrams, CAST(SUM(m.cost) AS BIGINT) AS lm_cost, " +
        "(1000 * CAST(SUM(m.cost) AS BIGINT)) // COUNT(*) AS cost_milli " +
        "FROM bg JOIN m USING (bg) GROUP BY 1 ORDER BY 1"),

    // hashed-n-gram linear scorer: md5-prefix feature hash (7 hex chars
    // < 2^28, exact) mod 1024, fixed integer weight table
    // (b·2654435761 mod 2003 − 1001), count-weighted sum — all exact
    // longs, replayed end-to-end
    "text_quality_model" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(" +
        "regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' '), " +
        "x -> len(x) > 0) AS ws FROM documents), " +
        "f AS (SELECT doc_id, unnest(list_concat(ws, " +
        "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS feat FROM t), " +
        "h AS (SELECT doc_id, CAST(('0x' || substring(md5(feat), 1, 7)) AS BIGINT) % 1024 AS b FROM f), " +
        "s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features, " +
        "CAST(SUM((b * 2654435761) % 2003 - 1001) AS BIGINT) AS score FROM h GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(s.n_features, 0) AS n_features, " +
        "coalesce(s.score, 0) AS score, coalesce(s.score, 0) > 0 AS is_quality " +
        "FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id"),

    "text_normalize" ->
      ("SELECT doc_id, regexp_replace(trim(lower(nfc_normalize(text))), ' +', ' ', 'g') AS text_norm, " +
        "(regexp_replace(trim(lower(nfc_normalize(text))), ' +', ' ', 'g') != text) AS changed " +
        "FROM documents ORDER BY doc_id"),

    "text_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS content_fp, " +
        "md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS bag_fp " +
        "FROM documents ORDER BY doc_id"),

    // winnowing: same k=3 grams, w=4 window, lexicographic string minima
    // (DuckDB list slices are 1-based inclusive, like Spark's slice)
    "text_winnow_fingerprint" ->
      ("WITH t AS (SELECT doc_id, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "g AS (SELECT doc_id, list_transform(range(1, greatest(len(toks) - 2, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 8)) AS hs FROM t), " +
        "w AS (SELECT doc_id, list_transform(range(1, greatest(len(hs) - 3, 0) + 1), " +
        "j -> list_min(hs[j:j+3])) AS sel FROM g) " +
        "SELECT doc_id, unnest(list_sort(list_distinct(sel))) AS fp FROM w " +
        "ORDER BY doc_id, fp"),

    // same winnow CTE, self-joined on the fingerprint
    "dedup_winnow" ->
      ("WITH t AS (SELECT doc_id, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "g AS (SELECT doc_id, list_transform(range(1, greatest(len(toks) - 2, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 8)) AS hs FROM t), " +
        "w AS (SELECT doc_id, list_transform(range(1, greatest(len(hs) - 3, 0) + 1), " +
        "j -> list_min(hs[j:j+3])) AS sel FROM g), " +
        "fp AS (SELECT doc_id, unnest(list_sort(list_distinct(sel))) AS fp FROM w) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared " +
        "FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b"),

    // cross-source dup replay: distinct (source, hash) self-join
    "dedup_cross_source" ->
      ("WITH h AS (SELECT DISTINCT source, " +
        "md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h " +
        "FROM documents) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM h a JOIN h b ON a.h = b.h AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // word-length histogram replay: clamped grid + per-lang shares
    "text_word_len_hist" ->
      ("WITH w0 AS (SELECT lang, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "c AS (SELECT lang, least(CAST(length(w) AS BIGINT), 17) AS wlen " +
        "FROM w0 WHERE length(w) > 0), " +
        "h AS (SELECT lang, wlen, CAST(COUNT(*) AS BIGINT) AS n_words " +
        "FROM c GROUP BY 1, 2), " +
        "t AS (SELECT lang, CAST(SUM(n_words) AS BIGINT) AS t FROM h GROUP BY 1) " +
        "SELECT h.lang, h.wlen, h.n_words, " +
        "(h.n_words * 1000000) // nullif(t.t, 0) AS share_ppm " +
        "FROM h JOIN t USING (lang) ORDER BY 1, 2"),

    // Yule's K replay: same tf spectrum, HUGEINT M2/M1², exact milli
    "text_yule_k" ->
      ("WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "f AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f " +
        "FROM tk GROUP BY 1, 2), " +
        "g AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(*) AS BIGINT) AS vocab, " +
        "SUM(CAST(f AS HUGEINT) * f) AS m2 FROM f GROUP BY 1) " +
        "SELECT source, n_tokens, vocab, " +
        "CAST(((m2 - n_tokens) * 10000000) // " +
        "nullif(CAST(n_tokens AS HUGEINT) * n_tokens, 0) AS BIGINT) " +
        "AS yule_k_milli FROM g ORDER BY source"),

    // hapax replay: per-(source, token) tf, per-source vocab rollup
    "text_hapax_ratio" ->
      ("WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "f AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f " +
        "FROM tk GROUP BY 1, 2), " +
        "g AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(*) AS BIGINT) AS vocab, " +
        "CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax " +
        "FROM f GROUP BY 1) " +
        "SELECT source, n_tokens, vocab, hapax, " +
        "(hapax * 1000000) // nullif(vocab, 0) AS hapax_ppm " +
        "FROM g ORDER BY source"),

    // lang-mix replay: bounded grid + per-source shares
    "corpus_lang_mix" ->
      ("WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS t FROM c GROUP BY 1) " +
        "SELECT c.source, c.lang, c.n_docs, c.n_chars, " +
        "(c.n_docs * 1000000) // nullif(t.t, 0) AS share_ppm " +
        "FROM c JOIN t USING (source) ORDER BY 1, 2"),

    "corpus_vocab" ->
      ("SELECT token, COUNT(*) AS freq FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
        "GROUP BY token ORDER BY freq DESC, token LIMIT 100"),

    "doc_sample" ->
      ("SELECT * FROM documents " +
        "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') " +
        "ORDER BY doc_id"),

    "doc_sample_stratified" ->
      ("SELECT doc_id, source, CAST(rk AS BIGINT) AS sample_rank FROM (" +
        "SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "WHERE rk <= 20 ORDER BY source, sample_rank"),

    // weighted Bernoulli: keep iff md5_28(doc_id)*denom < n_tokens<<28,
    // exact integers on both engines (denom = 400)
    "doc_sample_weighted" ->
      ("SELECT doc_id, n_tokens, " +
        "least(n_tokens, 400) AS p_num, CAST(400 AS BIGINT) AS p_den FROM (" +
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS h " +
        "FROM documents) WHERE h * 400 < n_tokens * (1::BIGINT << 28) " +
        "ORDER BY doc_id"),

    // inverted index: df/tf_total exact; posting list digested in
    // doc_id order (md5 of doc:tf CSV — string_agg ORDER BY replays
    // Spark's sort_array(collect_list(struct)) exactly); rarest-50
    // token selection with (df, tok) tie-break
    "index_postings" ->
      ("WITH tf AS (SELECT tok, doc_id, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY 1, 2), " +
        "df AS (SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total " +
        "FROM tf GROUP BY 1), " +
        "keep AS (SELECT * FROM df ORDER BY df, tok LIMIT 50), " +
        "p AS (SELECT tf.tok, md5(string_agg(tf.doc_id || ':' || tf.tf, ',' " +
        "ORDER BY tf.doc_id)) AS postings_md5 FROM tf " +
        "JOIN keep ON tf.tok = keep.tok GROUP BY tf.tok) " +
        "SELECT keep.tok, keep.df, keep.tf_total, p.postings_md5 " +
        "FROM keep JOIN p ON keep.tok = p.tok ORDER BY keep.tok"),

    // retrieval scoring replay: tf·N exact in a double, one division
    // per term, additions left-to-right — same bit pattern both engines
    "search_rank" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "f AS (SELECT doc_id, " +
        "CAST(SUM(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS tf_data, " +
        "CAST(SUM(CASE WHEN tok = 'line' THEN 1 ELSE 0 END) AS BIGINT) AS tf_line, " +
        "CAST(SUM(CASE WHEN tok = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS tf_dup " +
        "FROM t WHERE tok IN ('data', 'line', 'dup') GROUP BY doc_id), " +
        "d AS (SELECT " +
        "CAST(COUNT(DISTINCT CASE WHEN tok = 'data' THEN doc_id END) AS BIGINT) AS df_data, " +
        "CAST(COUNT(DISTINCT CASE WHEN tok = 'line' THEN doc_id END) AS BIGINT) AS df_line, " +
        "CAST(COUNT(DISTINCT CASE WHEN tok = 'dup' THEN doc_id END) AS BIGINT) AS df_dup " +
        "FROM t WHERE tok IN ('data', 'line', 'dup')), " +
        "n AS (SELECT COUNT(*) AS n_docs FROM documents) " +
        "SELECT doc_id, tf_data, tf_line, tf_dup, " +
        "((CAST(tf_data * n_docs AS DOUBLE) / df_data + " +
        "CAST(tf_line * n_docs AS DOUBLE) / df_line) + " +
        "CAST(tf_dup * n_docs AS DOUBLE) / df_dup) AS score " +
        "FROM f, d, n ORDER BY score DESC, doc_id LIMIT 20"),

    "train_test_split" ->
      ("SELECT doc_id, CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) " +
        "IN ('0','1') THEN 'test' ELSE 'train' END AS split " +
        "FROM documents ORDER BY doc_id"),

    // DuckDB's windowed SUM(BIGINT) widens to HUGEINT — cast the derived
    // columns back to BIGINT so the hash path sees int64 on both engines.
    // coverage-curve replay: head sizes + conditional sums GENERATED
    // from the same Corpus.VocabCurveNs constant
    "corpus_vocab_curve" -> {
      val ns = Corpus.VocabCurveNs
      ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM t WHERE w != '' GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total_tokens, " +
        "CAST(COUNT(*) AS BIGINT) AS n_types FROM wf), " +
        "r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rn FROM wf " +
        s"QUALIFY rn <= ${ns.max}), " +
        "a AS (SELECT " +
        ns.map(n => s"CAST(SUM(CASE WHEN rn <= $n THEN f END) AS BIGINT) AS c$n")
          .mkString(", ") + " FROM r), " +
        "h AS (" +
        ns.map(n => s"SELECT CAST($n AS BIGINT) AS head_n, c$n AS tokens_covered FROM a")
          .mkString(" UNION ALL ") + ") " +
        "SELECT head_n, n_types, total_tokens, tokens_covered, " +
        "CAST(tokens_covered * 1000000 // nullif(total_tokens, 0) AS BIGINT) AS coverage_ppm " +
        "FROM h, tot ORDER BY head_n")
    },

    // tail-pad + straddle replay over the same running-sum assignment
    "seq_pack_efficiency" ->
      ("WITH p AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens, " +
        "SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM documents), " +
        "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN n_tokens > 0 AND " +
        "(cum_tokens - n_tokens) // 512 != (cum_tokens - 1) // 512 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle FROM p GROUP BY 1) " +
        "SELECT source, n_docs, n_tokens, n_straddle, " +
        "CAST((n_tokens + 511) // 512 AS BIGINT) AS n_seqs, " +
        "CAST(((n_tokens + 511) // 512) * 512 - n_tokens AS BIGINT) AS tail_pad_tokens, " +
        "CAST(n_tokens * 1000000 // nullif(((n_tokens + 511) // 512) * 512, 0) AS BIGINT) AS fill_ppm " +
        "FROM a ORDER BY source"),

    "seq_pack" ->
      ("SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS seq_id FROM (" +
        "SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens, " +
        "SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM documents) " +
        "ORDER BY source, doc_id"),

    // minimal stride-regular cover: n_chunks = 1 + greatest(0,
    // ceil((n-32)/24)) in pure integer arithmetic (the greatest(0,..)
    // clamp erases the floor-vs-truncate division difference on the
    // negative numerator); DuckDB list slicing toks[a:b] is 1-based
    // inclusive-clamped = Spark slice(toks, a, len); range() yields
    // BIGINT so every derived column stays BIGINT.
    "doc_chunk" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "c AS (SELECT doc_id, source, toks, " +
        "1 + greatest(0, (len(toks) - 32 + 23) // 24) AS n_chunks FROM t), " +
        "u AS (SELECT doc_id, source, toks, " +
        "unnest(range(0, n_chunks * 24, 24)) AS st FROM c) " +
        "SELECT doc_id, source, CAST(st // 24 AS BIGINT) AS chunk_id, " +
        "CAST(st AS BIGINT) AS chunk_start, " +
        "CAST(least(32, len(toks) - st) AS BIGINT) AS n_tokens, " +
        "array_to_string(toks[st + 1:st + 32], ' ') AS chunk_text " +
        "FROM u ORDER BY doc_id, chunk_id"),

    // same chunk CTE at stride = chunkSize = 32 (non-overlapping), then
    // dedup_exact's ROW_NUMBER idiom partitioned by the paragraph text
    "dedup_paragraph" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "c AS (SELECT doc_id, source, toks, " +
        "1 + greatest(0, (len(toks) - 32 + 31) // 32) AS n_chunks FROM t), " +
        "u AS (SELECT doc_id, source, toks, " +
        "unnest(range(0, n_chunks * 32, 32)) AS st FROM c), " +
        "ch AS (SELECT doc_id, source, CAST(st // 32 AS BIGINT) AS chunk_id, " +
        "CAST(st AS BIGINT) AS chunk_start, " +
        "CAST(least(32, len(toks) - st) AS BIGINT) AS n_tokens, " +
        "array_to_string(toks[st + 1:st + 32], ' ') AS chunk_text FROM u) " +
        "SELECT doc_id, source, chunk_id, chunk_start, n_tokens, chunk_text " +
        "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_text " +
        "ORDER BY doc_id, chunk_id) AS rn FROM ch) WHERE rn = 1 " +
        "ORDER BY doc_id, chunk_id"),

    // duplicated-substring spans: identical normalize→8-gram→md5-prefix
    // contract, occurrence count ≥ 2, per-doc overlap-chain interval
    // merge via the same running-max window pass
    "dedup_substring" ->
      ("WITH t AS (SELECT doc_id, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t), " +
        "g AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 7 + 1)) AS s " +
        "FROM b WHERE len(toks) >= 8), " +
        "f AS (SELECT doc_id, CAST(s AS BIGINT) AS s, CAST(s + 7 AS BIGINT) AS e, " +
        "substring(md5(array_to_string(toks[s:s + 7], ' ')), 1, 8) AS fp FROM g), " +
        "d AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) >= 2), " +
        "h AS (SELECT f.doc_id, f.s, f.e FROM f JOIN d USING (fp)), " +
        "i AS (SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER " +
        "(PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni FROM h), " +
        "j AS (SELECT doc_id, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island, s FROM i), " +
        "k AS (SELECT doc_id, island, max(e) - min(s) + 1 AS width " +
        "FROM j GROUP BY 1, 2), " +
        "m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans, " +
        "CAST(SUM(width) AS BIGINT) AS dup_tokens FROM k GROUP BY 1) " +
        "SELECT b.doc_id, b.n_tokens, " +
        "CAST(coalesce(m.dup_spans, 0) AS BIGINT) AS dup_spans, " +
        "CAST(coalesce(m.dup_tokens, 0) AS BIGINT) AS dup_tokens, " +
        "CAST(coalesce(m.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_ratio " +
        "FROM b LEFT JOIN m USING (doc_id) ORDER BY doc_id"),

    // BPE training replayed verbatim: 3 unrolled merge steps, exact-long
    // weights, lexicographic tie-breaks, island-parity greedy merge
    "tokenizer_bpe" -> sqlBpe(steps = 3, topK = 5),
    "tokenizer_bpe_encode" -> sqlBpeEncode(steps = 3),
    "tokenizer_compression" -> sqlBpeCompression(steps = 3),

    // α=1/2 temperature quotas in pure BIGINT (w = floor(√n) — sqrt of
    // an exact integer is correctly rounded everywhere): full-epoch +
    // md5-prefix-extra replay, row-for-row
    "corpus_mix_temperature" ->
      ("WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1), " +
        "w AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(n) AS BIGINT) AS nn FROM w), " +
        "q AS (SELECT lang, n, (nn * w) // tw AS quota FROM w, t), " +
        "f AS (SELECT lang, quota // n AS ep, quota % n AS part FROM q), " +
        "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT r.doc_id, r.lang, f.ep + CASE WHEN r.rk <= f.part THEN 1 ELSE 0 END AS n_copies " +
        "FROM r JOIN f USING (lang) " +
        "WHERE f.ep + CASE WHEN r.rk <= f.part THEN 1 ELSE 0 END > 0 " +
        "ORDER BY lang, doc_id"),

    // integer-exact mixture quotas: M = min floor(n/p), k = p·M — no
    // float arithmetic anywhere, so quotas are bit-identical per engine
    "corpus_mix" ->
      ("WITH w AS (SELECT 'src' || CAST(i AS VARCHAR) AS source, i+1 AS p " +
        "FROM range(0, 20) t(i)), " +
        // left join FROM the weights: an absent weighted source is n=0,
        // driving M to 0 (mirrors Corpus.mixSources exactly)
        "c AS (SELECT w.source, w.p, COALESCE(c0.n, 0) AS n FROM w LEFT JOIN " +
        "(SELECT source, COUNT(*) AS n FROM documents GROUP BY source) c0 USING (source)), " +
        "m AS (SELECT MIN(n // p) AS m FROM c), " +
        "q AS (SELECT c.source, c.p * m.m AS k FROM c CROSS JOIN m), " +
        "r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT doc_id, source, CAST(rk AS BIGINT) AS mix_rank " +
        "FROM r JOIN q USING (source) WHERE rk <= k ORDER BY source, mix_rank"),

    "contamination_check" ->
      (s"WITH $sqlShingleCte, " +
        // mirror of contaminationCheck's maxDf=100 cap (df over both sets)
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        // same md5 holdout predicate as doc_sample/train_test_split
        "tagged AS (SELECT doc_id, shingle, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test FROM shc), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT t.doc_id AS test_doc, r.doc_id AS train_doc, COUNT(*) AS n_common " +
        "FROM tagged t JOIN tagged r ON t.shingle = r.shingle AND t.is_test AND NOT r.is_test " +
        "GROUP BY 1, 2) " +
        "SELECT test_doc, train_doc, " +
        "CAST(n_common AS DOUBLE) / (st.sz + sr.sz - n_common) AS jaccard " +
        "FROM inter JOIN sizes st ON test_doc = st.doc_id " +
        "JOIN sizes sr ON train_doc = sr.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / (st.sz + sr.sz - n_common) >= 0.3 " +
        "ORDER BY test_doc, train_doc"),

    // two-level numbering replay: per-source md5 rank + exclusive
    // running shard offsets in source order
    "corpus_epoch_order" ->
      ("WITH r AS (SELECT doc_id, source, " +
        "ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR) || ':1'), doc_id) AS rk FROM documents), " +
        "o AS (SELECT source, COALESCE(SUM(n) OVER (ORDER BY source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off " +
        "FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)) " +
        "SELECT r.doc_id, r.source, CAST(o.off + r.rk - 1 AS BIGINT) AS train_pos " +
        "FROM r JOIN o USING (source) ORDER BY train_pos"),

    // Zipf replay: bitlen logs via length(bin(x)) — identical integer
    // arithmetic; ROW_NUMBER rank over the same (f DESC, w) head;
    // sign-split milli division (floor-vs-truncate differs on engines)
    "text_zipf_fit" ->
      ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM t WHERE w != '' GROUP BY 1), " +
        s"top AS (SELECT w, f FROM wf ORDER BY f DESC, w LIMIT ${TextAnalysis.ZipfTopN}), " +
        "p AS (SELECT CAST(length(bin(ROW_NUMBER() OVER (ORDER BY f DESC, w))) AS BIGINT) AS x, " +
        "CAST(length(bin(f)) AS BIGINT) AS y FROM top), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx, " +
        "CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy, " +
        "CAST(SUM(x*x) AS BIGINT) AS sxx FROM p) " +
        "SELECT n, sx, sy, sxy, sxx, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den, " +
        "CAST(sign(n*sxy - sx*sy) AS BIGINT) * " +
        "((abs(n*sxy - sx*sy) * 1000) // (n*sxx - sx*sx)) AS slope_milli " +
        "FROM s"),

    "text_corpus_freq" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "v AS (SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok) " +
        "SELECT doc_id, COUNT(*) AS n_tokens, " +
        "CAST(SUM(freq) AS BIGINT) AS sum_freq, " +
        "CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS mean_freq " +
        "FROM t JOIN v USING (tok) GROUP BY doc_id ORDER BY doc_id"),

    // burstiness replay: per-doc counts, HUGEINT moment arithmetic,
    // one IEEE division for the Fano factor, frequency-head top-k
    "text_burstiness" ->
      ("WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY 1, 2), " +
        "st AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_docs_with, " +
        "CAST(SUM(c) AS BIGINT) AS total_cnt, " +
        "CAST(SUM(c * c) AS BIGINT) AS sum_sq FROM tf GROUP BY 1), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents) " +
        "SELECT tok AS token, nn.n_docs, n_docs_with, total_cnt, sum_sq, " +
        "CAST(CAST(nn.n_docs AS HUGEINT) * sum_sq - " +
        "CAST(total_cnt AS HUGEINT) * total_cnt AS DOUBLE) / " +
        "CAST(CAST(nn.n_docs AS HUGEINT) * total_cnt AS DOUBLE) AS fano " +
        "FROM st, nn ORDER BY total_cnt DESC, token LIMIT " +
        graft.operators.TextAnalysis.BurstTopK),

    // collocation replay: same adjacent-bigram/unigram counts, HUGEINT
    // lift product, identical support floor and (lift, a, b) head
    "text_collocations" -> {
      val k = graft.operators.TextAnalysis.CollocTopK
      val mc = graft.operators.TextAnalysis.CollocMinCount
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "g AS (SELECT unnest(range(1, len(ws))) AS i, ws FROM w), " +
        "bg AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM g), " +
        "cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab " +
        s"FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= $mc), " +
        "ut AS (SELECT unnest(ws) AS wd FROM w), " +
        "uni AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS c FROM ut GROUP BY 1), " +
        "n AS (SELECT CAST(SUM(greatest(len(ws) - 1, 0)) AS BIGINT) AS n_bigrams FROM w) " +
        "SELECT cab.a, cab.b, ua.c AS c_a, ub.c AS c_b, cab.c_ab, " +
        "n.n_bigrams, " +
        "CAST((CAST(cab.c_ab AS HUGEINT) * n.n_bigrams * 1000000) // " +
        "(CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT) AS lift_ppm " +
        "FROM cab JOIN uni ua ON cab.a = ua.wd JOIN uni ub ON cab.b = ub.wd, n " +
        s"ORDER BY lift_ppm DESC, cab.a, cab.b LIMIT $k")
    },

    // Bloom gate replay: mask bit set ⇔ position ∈ member position set,
    // so the oracle tests set membership where the engine tests the bit
    // — identical by construction, false positives included. Gram
    // contract = contamination_ngram's (winnow CTE at w=1); positions =
    // 28-bit md5 prefixes of fp||':'||i mod 131072, 5 hashes.
    "contamination_bloom" ->
      ("WITH t AS (SELECT doc_id, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "fps AS (SELECT doc_id, is_test, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 12, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+12], ' ')), 1, 8)))) AS fp FROM t), " +
        "hp AS (SELECT doc_id, is_test, fp, " +
        "CAST(('0x' || substring(md5(fp || ':' || CAST(r.i AS VARCHAR)), 1, 7)) AS BIGINT) " +
        "% 131072 AS pos FROM fps, range(5) r(i)), " +
        "mem AS (SELECT DISTINCT pos FROM hp WHERE is_test), " +
        "gv AS (SELECT hp.doc_id, hp.fp, bool_and(mem.pos IS NOT NULL) AS maybe " +
        "FROM hp LEFT JOIN mem ON hp.pos = mem.pos " +
        "WHERE NOT hp.is_test GROUP BY hp.doc_id, hp.fp) " +
        "SELECT doc_id, COUNT(*) AS n_grams, " +
        "CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "SUM(CASE WHEN maybe THEN 1 ELSE 0 END) > 0 AS bloom_hit " +
        "FROM gv GROUP BY doc_id ORDER BY doc_id"),

    // FPR replay: gram-level membership test by position sets (the
    // contamination_bloom doctrine), ground truth via fp semi-join
    // bloom-merge replay: per-shard distinct gram fps → position sets;
    // global = merged = the union — the mask path must land exactly here
    "sketch_bloom_merge" ->
      ("WITH t AS (SELECT doc_id, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "fps AS (SELECT doc_id % 4 AS shard, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 12, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+12], ' ')), 1, 8)))) AS fp FROM t), " +
        "sp AS (SELECT DISTINCT shard, fp FROM fps), " +
        "pos AS (SELECT DISTINCT shard, " +
        "CAST(('0x' || substring(md5(fp || ':' || CAST(r.i AS VARCHAR)), 1, 7)) AS BIGINT) " +
        "% 131072 AS pos FROM sp, range(5) r(i)), " +
        "gpos AS (SELECT DISTINCT pos FROM pos), " +
        "gk AS (SELECT CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_keys FROM sp), " +
        "sk AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_keys FROM sp GROUP BY 1), " +
        "ss AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_set_bits, " +
        "CAST(SUM(pos) AS BIGINT) AS pos_sum FROM pos GROUP BY 1), " +
        "srows AS (SELECT 'shard_' || CAST(sk.shard AS VARCHAR) AS scope, " +
        "sk.n_keys, ss.n_set_bits, ss.pos_sum FROM sk JOIN ss USING (shard)), " +
        "gs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_set_bits, " +
        "CAST(SUM(pos) AS BIGINT) AS pos_sum FROM gpos), " +
        "grows AS (SELECT u.scope, gk.n_keys, gs.n_set_bits, gs.pos_sum " +
        "FROM (SELECT unnest(['zz_global', 'zz_merged']) AS scope) u, gk, gs) " +
        "SELECT * FROM (SELECT * FROM srows UNION ALL SELECT * FROM grows) z " +
        "ORDER BY scope"),

    // TV-matrix replay: same top-32 + OOV cells, truncated ppm shares,
    // constant pair × cell grid
    "text_source_tv_matrix" ->
      ("WITH tk AS (SELECT source, tok FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) z WHERE tok != ''), " +
        "vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS f FROM tk " +
        "GROUP BY 1 ORDER BY f DESC, tok LIMIT 32) v), " +
        "cnt AS (SELECT source, CASE WHEN v.tok IS NOT NULL THEN tk.tok " +
        "ELSE '__OOV__' END AS cell, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM tk LEFT JOIN vocab v ON tk.tok = v.tok GROUP BY 1, 2), " +
        "tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1), " +
        "p AS (SELECT cnt.source, cell, (c * 1000000) // nullif(t, 0) AS ppm " +
        "FROM cnt JOIN tot USING (source)), " +
        "cells AS (SELECT tok AS cell FROM vocab UNION ALL SELECT '__OOV__'), " +
        "grid AS (SELECT a.source AS source_a, b.source AS source_b, cells.cell " +
        "FROM tot a, tot b, cells WHERE a.source < b.source) " +
        "SELECT source_a, source_b, " +
        "CAST(SUM(abs(COALESCE(pa.ppm, 0) - COALESCE(pb.ppm, 0))) // 2 AS BIGINT) AS tv_ppm " +
        "FROM grid LEFT JOIN p pa ON pa.source = grid.source_a AND pa.cell = grid.cell " +
        "LEFT JOIN p pb ON pb.source = grid.source_b AND pb.cell = grid.cell " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    "sketch_bloom_fpr" ->
      ("WITH t AS (SELECT doc_id, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "fps AS (SELECT doc_id, is_test, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 12, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+12], ' ')), 1, 8)))) AS fp FROM t), " +
        "memfp AS (SELECT DISTINCT fp FROM fps WHERE is_test), " +
        "prb AS (SELECT DISTINCT fp FROM fps WHERE NOT is_test), " +
        "mem AS (SELECT DISTINCT CAST(('0x' || substring(md5(fp || ':' || CAST(r.i AS VARCHAR)), 1, 7)) AS BIGINT) " +
        "% 131072 AS pos FROM memfp, range(5) r(i)), " +
        "php AS (SELECT fp, CAST(('0x' || substring(md5(fp || ':' || CAST(r.i AS VARCHAR)), 1, 7)) AS BIGINT) " +
        "% 131072 AS pos FROM prb, range(5) r(i)), " +
        "gv AS (SELECT php.fp, bool_and(mem.pos IS NOT NULL) AS maybe " +
        "FROM php LEFT JOIN mem ON php.pos = mem.pos GROUP BY php.fp), " +
        "j AS (SELECT gv.maybe, memfp.fp IS NOT NULL AS is_member " +
        "FROM gv LEFT JOIN memfp ON gv.fp = memfp.fp), " +
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_member_grams FROM memfp) " +
        "SELECT m.n_member_grams, CAST(COUNT(*) AS BIGINT) AS n_probe_grams, " +
        "CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members, " +
        "CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "CAST(SUM(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos, " +
        "CAST(SUM(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) * 1000000 // " +
        "nullif(COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END), 0) AS BIGINT) AS fpr_ppm " +
        "FROM j, m GROUP BY m.n_member_grams"),

    // Count-Min replay: cell counters are exact group-bys over the
    // md5-derived (row, cell) grid; estimates (and their deterministic
    // overcounts) are MIN over each probe token's 4 cells. Token
    // contract = corpus_vocab's (split on a single space).
    "freq_cms" ->
      ("WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "cells AS (SELECT r.r AS r, " +
        "CAST(('0x' || substring(md5(tok || '#' || CAST(r.r AS VARCHAR)), 1, 7)) AS BIGINT) " +
        "% 1024 AS cell, COUNT(*) AS cnt FROM toks, range(4) r(r) GROUP BY 1, 2), " +
        "top AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok " +
        "ORDER BY exact_cnt DESC, tok LIMIT 20), " +
        "probes AS (SELECT tok, exact_cnt, r.r AS r, " +
        "CAST(('0x' || substring(md5(tok || '#' || CAST(r.r AS VARCHAR)), 1, 7)) AS BIGINT) " +
        "% 1024 AS cell FROM top, range(4) r(r)) " +
        "SELECT p.tok, p.exact_cnt, MIN(c.cnt) AS cms_est, " +
        "CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overcount " +
        "FROM probes p JOIN cells c ON p.r = c.r AND p.cell = c.cell " +
        "GROUP BY p.tok, p.exact_cnt ORDER BY p.exact_cnt DESC, p.tok"),

    // HLL replay: 28-bit md5 prefix → (bucket, rho) via bin() bit
    // length (no leading zeros in either engine), exact-long harmonic
    // sum with absent registers at 2^19, fixed-order IEEE estimate —
    // identical literal arithmetic on identical exact inputs
    // keep-best replay: same prefix fingerprint, window rank by
    // (source, doc_id), per-source census
    "dedup_keep_best" ->
      ("WITH k AS (SELECT source, doc_id, " +
        "md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h " +
        "FROM documents), " +
        "b AS (SELECT source, doc_id, " +
        "ROW_NUMBER() OVER (PARTITION BY h ORDER BY source, doc_id) AS rn " +
        "FROM k) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_yielded FROM b GROUP BY 1 ORDER BY 1"),

    // KN replay: same bigram relation, the exact-rational num/den and
    // bit-length surrogate text, broadcast-model join by bigram
    "text_lm_kneser_ney" ->
      ("WITH t AS (SELECT doc_id, regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS t FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> substring(t, CAST(i AS INT), 2))) AS bg " +
        "FROM t WHERE len(t) >= 2), " +
        "cb AS (SELECT bg, substring(bg, 1, 1) AS u, substring(bg, 2, 1) AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2, 3), " +
        "cu AS (SELECT u, CAST(SUM(cb) AS BIGINT) AS cu, " +
        "CAST(COUNT(*) AS BIGINT) AS nfollow FROM cb GROUP BY 1), " +
        "cv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS nprec FROM cb GROUP BY 1), " +
        "tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM cb), " +
        "m AS (SELECT cb.bg, CAST(length(bin(4 * cu.cu * tt.tt)) - " +
        "length(bin(tt.tt * greatest(4 * cb.cb - 3, 0) + 3 * cu.nfollow * cv.nprec)) " +
        "AS BIGINT) AS cost " +
        "FROM cb JOIN cu USING (u) JOIN cv USING (v) CROSS JOIN tt) " +
        "SELECT bg.doc_id, COUNT(*) AS n_bigrams, " +
        "CAST(SUM(m.cost) AS BIGINT) AS kn_cost, " +
        "(1000 * CAST(SUM(m.cost) AS BIGINT)) // COUNT(*) AS cost_milli " +
        "FROM bg JOIN m USING (bg) GROUP BY 1 ORDER BY 1"),

    // linear-counting replay: same md5 bucket hash, distinct occupancy,
    // the identical 8-term truncated-series text in HUGEINT
    "sketch_linear_count" -> {
      val series = (1 to 8).map { k =>
        val den = BigInt(1024) pow (k - 1)
        val fk = (1 to k).map(_ => "CAST(filled AS HUGEINT)").mkString(" * ")
        s"(($fk) * 1000) // ($k * CAST('$den' AS HUGEINT))"
      }.mkString(" + ")
      "WITH k AS (SELECT l_returnflag, " +
        "CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 7)) AS BIGINT) % 1024 AS bucket " +
        "FROM lineitem), " +
        "occ AS (SELECT l_returnflag, CAST(COUNT(DISTINCT bucket) AS BIGINT) AS filled FROM k GROUP BY 1), " +
        "ex AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) " +
        "AS exact_distinct FROM lineitem GROUP BY 1) " +
        "SELECT occ.l_returnflag, CAST(1024 AS BIGINT) AS m, filled, " +
        "1024 - filled AS zero_buckets, exact_distinct, " +
        s"CAST($series AS BIGINT) AS est_milli " +
        "FROM occ JOIN ex USING (l_returnflag) ORDER BY 1"
    },

    "sketch_hll_distinct" ->
      ("WITH k AS (SELECT l_returnflag, l_partkey, " +
        "CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 7)) AS BIGINT) AS h " +
        "FROM lineitem), " +
        "r AS (SELECT l_returnflag, h % 1024 AS bucket, " +
        "CASE WHEN h // 1024 = 0 THEN 19 " +
        "ELSE 19 - length(bin(h // 1024)) END AS rho FROM k), " +
        "regs AS (SELECT l_returnflag, bucket, CAST(MAX(rho) AS BIGINT) AS mj " +
        "FROM r GROUP BY 1, 2), " +
        "sums AS (SELECT l_returnflag, " +
        "CAST(SUM(CAST(1 AS BIGINT) << CAST(19 - mj AS INTEGER)) AS BIGINT) AS s_present, " +
        "CAST(COUNT(*) AS BIGINT) AS n_present FROM regs GROUP BY 1), " +
        "ex AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) " +
        "AS exact_distinct FROM lineitem GROUP BY 1) " +
        "SELECT s.l_returnflag, ex.exact_distinct, " +
        "s.s_present + (1024 - s.n_present) * 524288 AS s_scaled, " +
        "1024 - s.n_present AS zero_buckets, " +
        "0.7213 / (1.0 + 1.079 / 1024.0) * 1024 * 1024 * 524288 / " +
        "(s.s_present + (1024 - s.n_present) * 524288) AS hll_est " +
        "FROM sums s JOIN ex USING (l_returnflag) ORDER BY s.l_returnflag"),

    // df-histogram replay: shared shingle CTE → df → bin() buckets
    "dedup_df_histogram" ->
      (s"WITH $sqlShingleCte, " +
        "dfc AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1) " +
        "SELECT CAST(length(bin(df)) AS INT) AS df_bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_shingles, " +
        "CAST(MIN(df) AS BIGINT) AS df_min, CAST(MAX(df) AS BIGINT) AS df_max, " +
        "CAST(SUM(df) AS BIGINT) AS occurrences, " +
        "CAST(SUM(CASE WHEN df > 100 THEN df ELSE 0 END) AS BIGINT) AS occ_over_cap " +
        "FROM dfc GROUP BY 1 ORDER BY 1"),

    // HLL-merge replay: shard regs → max-merge vs direct, same exact
    // harmonic form
    "sketch_hll_merge" ->
      ("WITH k AS (SELECT l_returnflag || ':' || l_linestatus AS shard, l_partkey, " +
        "CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 7)) AS BIGINT) AS h " +
        "FROM lineitem), " +
        "r AS (SELECT shard, h % 1024 AS bucket, " +
        "CASE WHEN h // 1024 = 0 THEN 19 ELSE 19 - length(bin(h // 1024)) END AS rho, " +
        "l_partkey FROM k), " +
        "sregs AS (SELECT shard, bucket, MAX(rho) AS sj FROM r GROUP BY 1, 2), " +
        "merged AS (SELECT bucket, CAST(MAX(sj) AS BIGINT) AS mj FROM sregs GROUP BY 1), " +
        "direct AS (SELECT bucket, CAST(MAX(rho) AS BIGINT) AS gj FROM r GROUP BY 1), " +
        "ns AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards FROM sregs), " +
        "nm AS (SELECT CAST(COALESCE(SUM(CASE WHEN mj IS NOT DISTINCT FROM gj " +
        "THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_mismatch " +
        "FROM merged FULL OUTER JOIN direct USING (bucket)), " +
        "sums AS (SELECT CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(19 - mj AS INTEGER)), 0) AS BIGINT) AS s_present, " +
        "CAST(COUNT(*) AS BIGINT) AS n_present FROM merged), " +
        "ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct FROM lineitem) " +
        "SELECT n_shards, n_mismatch, exact_distinct, " +
        "s_present + (1024 - n_present) * 524288 AS s_scaled, " +
        "1024 - n_present AS zero_buckets, " +
        "0.7213 / (1.0 + 1.079 / 1024.0) * 1024 * 1024 * 524288 / " +
        "(s_present + (1024 - n_present) * 524288) AS hll_est " +
        "FROM ns CROSS JOIN nm CROSS JOIN ex CROSS JOIN sums"),

    // md5 bottom-256 reservoir replay: the window-rank form selects the
    // same multiset the engine's bottom-k aggregator keeps ((hash, v)
    // lexicographic — collisions interchangeable), then nearest-rank
    "sketch_quantiles" ->
      ("WITH h AS (SELECT l_returnflag AS grp, l_extendedprice AS v, " +
        "CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':' || " +
        "CAST(l_linenumber AS VARCHAR)), 1, 7)) AS BIGINT) AS hash FROM lineitem), " +
        "nn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows FROM h GROUP BY 1), " +
        "rk AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY hash, v) AS rn FROM h), " +
        "samp AS (SELECT grp, v FROM rk WHERE rn <= 256), " +
        "s2 AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS vr, " +
        "COUNT(*) OVER (PARTITION BY grp) AS n FROM samp), " +
        "q AS (SELECT grp, CAST(MAX(n) AS BIGINT) AS n_sample, " +
        "MAX(CASE WHEN vr = (25*n+99)//100 THEN v END) AS p25, " +
        "MAX(CASE WHEN vr = (50*n+99)//100 THEN v END) AS p50, " +
        "MAX(CASE WHEN vr = (75*n+99)//100 THEN v END) AS p75, " +
        "MAX(CASE WHEN vr = (90*n+99)//100 THEN v END) AS p90 FROM s2 GROUP BY 1) " +
        "SELECT q.grp, nn.n_rows, q.n_sample, q.p25, q.p50, q.p75, q.p90 " +
        "FROM q JOIN nn USING (grp) ORDER BY grp"),

    // merge-law replay: per-shard window-rank bottom-256 → union →
    // re-rank vs the direct global bottom-256, elementwise mismatch
    // over the rank join, percentiles from the MERGED sample
    "sketch_quantile_merge" ->
      ("WITH keyed AS (SELECT l_returnflag || ':' || l_linestatus AS shard, " +
        "CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':' || " +
        "CAST(l_linenumber AS VARCHAR)), 1, 7)) AS BIGINT) AS h, " +
        "CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem), " +
        "ssamp AS (SELECT shard, h, v FROM (SELECT shard, h, v, " +
        "row_number() OVER (PARTITION BY shard ORDER BY h, v) AS rn " +
        "FROM keyed) t WHERE rn <= 256), " +
        "merged AS (SELECT h, v, rk FROM (SELECT h, v, " +
        "row_number() OVER (ORDER BY h, v) AS rk FROM ssamp) t WHERE rk <= 256), " +
        "direct AS (SELECT h, v, rk FROM (SELECT h, v, " +
        "row_number() OVER (ORDER BY h, v) AS rk FROM keyed) t WHERE rk <= 256), " +
        "ns AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards FROM keyed), " +
        "nsamp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sample FROM direct), " +
        "mm AS (SELECT CAST(COALESCE(SUM(CASE WHEN m.h = d.h AND m.v = d.v " +
        "THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_mismatch " +
        "FROM merged m FULL OUTER JOIN direct d USING (rk)), " +
        "s2 AS (SELECT v, row_number() OVER (ORDER BY v) AS vr, " +
        "COUNT(*) OVER () AS n FROM merged), " +
        "q AS (SELECT MAX(CASE WHEN vr = (25*n+99)//100 THEN v END) AS p25, " +
        "MAX(CASE WHEN vr = (50*n+99)//100 THEN v END) AS p50, " +
        "MAX(CASE WHEN vr = (75*n+99)//100 THEN v END) AS p75, " +
        "MAX(CASE WHEN vr = (90*n+99)//100 THEN v END) AS p90 FROM s2) " +
        "SELECT n_shards, n_sample, n_mismatch, p25, p50, p75, p90 " +
        "FROM ns CROSS JOIN nsamp CROSS JOIN mm CROSS JOIN q"),

    // KMV/theta replay: the window-rank bottom-64 per type selects the
    // same distinct-hash sets the engine's BottomKAgg keeps; θ, the
    // sketch intersection, and both estimator branches replay exactly
    // (every product c·2^48 with c < 2^7 is double-exact; one IEEE
    // division per estimate). Constants mirror Sketches.thetaSketch
    // (k = 64, space = 2^48, types click/purchase).
    // the batch bottom-k replay (sketch_theta's du/rk/sk front) IS the
    // final-state contract of the streaming KMV sketch
    "stream_sketch_parity" ->
      ("WITH du AS (SELECT DISTINCT event_type, " +
        "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h " +
        "FROM events), " +
        "rk AS (SELECT event_type, h, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM du), " +
        "sk AS (SELECT event_type, h FROM rk WHERE rn <= 64) " +
        "SELECT event_type AS scope, CAST(COUNT(*) AS BIGINT) AS n_retained, " +
        "MAX(h) AS kth_hash, " +
        "CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE) " +
        "ELSE CAST(17732923532771328 AS DOUBLE) / CAST(MAX(h) AS DOUBLE) END AS est " +
        "FROM sk GROUP BY 1 ORDER BY 1"),

    // AMS replay: same md5-parity signs, HUGEINT Z and squares, same
    // lower-median pick over the sorted 64-list, error in exact ppm
    "sketch_ams_f2" ->
      ("WITH counts AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM lineitem GROUP BY 1), " +
        "ex AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(*) AS BIGINT) AS n_keys, " +
        "SUM(CAST(c AS HUGEINT) * c) AS f2_exact FROM counts), " +
        "js AS (SELECT unnest(range(0, 64)) AS j), " +
        "z AS (SELECT j, SUM((CASE WHEN CAST(('0x' || " +
        "substring(md5(CAST(j AS VARCHAR) || ':' || CAST(key AS VARCHAR)), 1, 1)) " +
        "AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) * c) AS zv " +
        "FROM js CROSS JOIN counts GROUP BY 1), " +
        "m AS (SELECT list_sort(list(CAST(zv AS HUGEINT) * zv)) AS arr FROM z), " +
        "sel AS (SELECT arr[(len(arr) + 1) // 2] AS f2_est_h FROM m) " +
        "SELECT ex.n_rows, ex.n_keys, CAST(64 AS BIGINT) AS n_estimators, " +
        "CAST(ex.f2_exact AS VARCHAR) AS f2_exact, " +
        "CAST(sel.f2_est_h AS VARCHAR) AS f2_est, " +
        "CAST(abs(sel.f2_est_h - ex.f2_exact) * 1000000 // " +
        "nullif(ex.f2_exact, 0) AS BIGINT) AS err_ppm " +
        "FROM ex, sel"),

    // theta A-NOT-B replay: per-side k-row sketches, θ = min(θa, θb),
    // retained = below-θ hashes absent from the other sketch, exact
    // per-direction audits from the same distinct relation
    "sketch_theta_anotb" ->
      ("WITH du AS (SELECT DISTINCT event_type, " +
        "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h " +
        "FROM events), " +
        "rk AS (SELECT event_type, h, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM du), " +
        "sk AS (SELECT event_type, h FROM rk WHERE rn <= 64), " +
        "ua AS (SELECT h FROM sk WHERE event_type = 'click'), " +
        "ub AS (SELECT h FROM sk WHERE event_type = 'purchase'), " +
        "tha AS (SELECT CASE WHEN (SELECT COUNT(*) FROM ua) >= 64 " +
        "THEN (SELECT MAX(h) FROM ua) ELSE CAST(281474976710656 AS BIGINT) END AS t), " +
        "thb AS (SELECT CASE WHEN (SELECT COUNT(*) FROM ub) >= 64 " +
        "THEN (SELECT MAX(h) FROM ub) ELSE CAST(281474976710656 AS BIGINT) END AS t), " +
        "th AS (SELECT least(tha.t, thb.t) AS theta FROM tha, thb), " +
        "dab AS (SELECT COUNT(*) AS nr FROM ua, th WHERE ua.h < th.theta " +
        "AND ua.h NOT IN (SELECT h FROM ub)), " +
        "dba AS (SELECT COUNT(*) AS nr FROM ub, th WHERE ub.h < th.theta " +
        "AND ub.h NOT IN (SELECT h FROM ua)), " +
        "exd AS (SELECT h, MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ia, " +
        "MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ib " +
        "FROM du WHERE event_type IN ('click', 'purchase') GROUP BY h), " +
        "exs AS (SELECT CAST(COALESCE(SUM(CASE WHEN ia = 1 AND ib = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS ex_ab, " +
        "CAST(COALESCE(SUM(CASE WHEN ib = 1 AND ia = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS ex_ba FROM exd) " +
        "SELECT 'click_not_purchase' AS scope, exs.ex_ab AS n_exact, " +
        "CAST(dab.nr AS BIGINT) AS n_retained, th.theta AS theta, " +
        "CAST(dab.nr AS DOUBLE) * 281474976710656.0 / CAST(th.theta AS DOUBLE) AS est " +
        "FROM exs, dab, th " +
        "UNION ALL SELECT 'purchase_not_click', exs.ex_ba, " +
        "CAST(dba.nr AS BIGINT), th.theta, " +
        "CAST(dba.nr AS DOUBLE) * 281474976710656.0 / CAST(th.theta AS DOUBLE) " +
        "FROM exs, dba, th ORDER BY scope"),

    "sketch_theta" ->
      ("WITH du AS (SELECT DISTINCT event_type, " +
        "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h " +
        "FROM events), " +
        "rk AS (SELECT event_type, h, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS nd FROM du), " +
        "sk AS (SELECT event_type, h, nd FROM rk WHERE rn <= 64), " +
        "pt AS (SELECT event_type AS scope, CAST(MAX(nd) AS BIGINT) AS n_exact, " +
        "CAST(COUNT(*) AS BIGINT) AS n_retained, MAX(h) AS kth_hash, " +
        "CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE) " +
        "ELSE CAST(17732923532771328 AS DOUBLE) / CAST(MAX(h) AS DOUBLE) END AS est " +
        "FROM sk GROUP BY event_type), " +
        "ua AS (SELECT h FROM sk WHERE event_type = 'click'), " +
        "ub AS (SELECT h FROM sk WHERE event_type = 'purchase'), " +
        "un AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM " +
        "(SELECT h FROM ua UNION SELECT h FROM ub)), " +
        "th AS (SELECT CASE WHEN (SELECT MAX(rn) FROM un) >= 64 " +
        "THEN (SELECT h FROM un WHERE rn = 64) " +
        "ELSE CAST(281474976710656 AS BIGINT) END AS theta), " +
        "ib AS (SELECT COUNT(*) AS ni FROM ua JOIN ub USING (h), th " +
        "WHERE ua.h < th.theta), " +
        "ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM " +
        "(SELECT h FROM du WHERE event_type IN ('click', 'purchase') " +
        "GROUP BY h HAVING COUNT(DISTINCT event_type) = 2)), " +
        "ir AS (SELECT 'click_x_purchase' AS scope, ex.n_exact, " +
        "CAST(ib.ni AS BIGINT) AS n_retained, th.theta AS kth_hash, " +
        "CAST(ib.ni AS DOUBLE) * 281474976710656.0 / CAST(th.theta AS DOUBLE) AS est " +
        "FROM ex, ib, th) " +
        "SELECT * FROM pt UNION ALL SELECT * FROM ir ORDER BY scope"),

    // 13-gram hashes via the winnow CTE shape at w=1 (all distinct gram
    // hashes); df-cap over BOTH splits mirrors contaminationNgrams
    // gate replay: test-split distinct grams as the bench, per-train-doc
    // hit counts (no df-cap — the gate is the pre-audit superset, as the
    // module doc states), structural zero rows via left join
    "stream_contamination_parity" ->
      ("WITH t AS (SELECT doc_id, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "fps AS (SELECT doc_id, is_test, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 12, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+12], ' ')), 1, 8)))) AS fp FROM t), " +
        "bench AS (SELECT DISTINCT fp FROM fps WHERE is_test), " +
        "hits AS (SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM fps f JOIN bench USING (fp) WHERE NOT f.is_test GROUP BY 1) " +
        "SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared, " +
        "COALESCE(h.n_shared, 0) > 0 AS contaminated " +
        "FROM t d LEFT JOIN hits h USING (doc_id) WHERE NOT d.is_test " +
        "ORDER BY doc_id"),

    "stream_corpus_parity" -> sqlStreamCorpusParity(3),

    // compacting replay: pruning is inert by construction (horizon =
    // event-time span), so the unpruned fold IS the oracle
    "stream_corpus_compact" -> sqlStreamCorpusParity(3),

    "contamination_ngram" ->
      ("WITH t AS (SELECT doc_id, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test, " +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks " +
        "FROM documents), " +
        "fps AS (SELECT doc_id, is_test, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 12, 0) + 1), " +
        "i -> substring(md5(array_to_string(toks[i:i+12], ' ')), 1, 8)))) AS fp FROM t), " +
        "kept AS (SELECT doc_id, is_test, fp FROM fps JOIN (" +
        "SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100" +
        ") keep USING (fp)) " +
        "SELECT a.doc_id AS test_doc, b.doc_id AS train_doc, COUNT(*) AS n_shared " +
        "FROM kept a JOIN kept b ON a.fp = b.fp AND a.is_test AND NOT b.is_test " +
        "GROUP BY 1, 2 ORDER BY test_doc, train_doc"),

    "dedup_fuzzy" ->
      (s"WITH $sqlShingleCte, " +
        // mirror of Dedup.shingleTable's maxDf=100 document-frequency cap
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, n_common, sa.sz + sb.sz - n_common AS n_union, " +
        "CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard " +
        "FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5 " +
        "ORDER BY doc_a, doc_b"),

    // containment replay: same df-capped front as dedup_fuzzy, the
    // asymmetric tail with cross-multiplied threshold from the shared
    // Dedup.ContainmentMilli constant
    "dedup_containment" ->
      (s"WITH $sqlShingleCte, " +
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        "sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b, " +
        "CAST(n_common * 1000000 // sa.sz AS BIGINT) AS contain_a_ppm, " +
        "CAST(n_common * 1000000 // sb.sz AS BIGINT) AS contain_b_ppm " +
        "FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
        s"WHERE n_common * 1000 >= ${Dedup.ContainmentMilli} * least(sa.sz, sb.sz) " +
        "ORDER BY doc_a, doc_b"),

    // (source, shingle) distincts + per-shingle carrier pairs
    "corpus_source_overlap" ->
      ("WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents), " +
        "ss AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(t) - 1, 1)), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks), " +
        "tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ss GROUP BY 1), " +
        "sh AS (SELECT x.source AS src_a, y.source AS src_b, " +
        "CAST(COUNT(*) AS BIGINT) AS shared FROM ss x " +
        "JOIN ss y ON x.shingle = y.shingle AND x.source < y.source GROUP BY 1, 2) " +
        "SELECT sh.src_a, sh.src_b, sh.shared, ta.n_sh AS n_a, tb.n_sh AS n_b, " +
        "CAST(sh.shared AS DOUBLE) / LEAST(ta.n_sh, tb.n_sh) AS containment " +
        "FROM sh JOIN tot ta ON sh.src_a = ta.source " +
        "JOIN tot tb ON sh.src_b = tb.source ORDER BY sh.src_a, sh.src_b"),

    // min-per-shingle first-carrier replay over the shared shingle CTE
    "text_ngram_novelty" ->
      (s"WITH $sqlShingleCte, " +
        "f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1) " +
        "SELECT sh.doc_id, COUNT(*) AS n_grams, " +
        "CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty " +
        "FROM sh JOIN f USING (shingle) GROUP BY sh.doc_id ORDER BY sh.doc_id"),

    // per-source audit over the SAME pair relation: suppressed doc_b
    // set, within/cross pair split, one IEEE division per source
    // threshold-curve replay: the rate report's capped pair CTEs, the
    // identical integer threshold compare, structural 5-row grid
    "dedup_threshold_curve" ->
      (s"WITH $sqlShingleCte, " +
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pc AS (SELECT doc_b, CAST(n_common AS BIGINT) AS n_common, " +
        "CAST(sa.sz + sb.sz - n_common AS BIGINT) AS n_union FROM inter " +
        "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id), " +
        "grid AS (SELECT CAST(unnest([500, 600, 700, 800, 900]) AS BIGINT) AS thresh_milli), " +
        "f AS (SELECT g.thresh_milli, pc.doc_b FROM pc JOIN grid g " +
        "ON pc.n_common * 1000 >= g.thresh_milli * pc.n_union), " +
        "st AS (SELECT thresh_milli, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dup_docs FROM f GROUP BY 1), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents) " +
        "SELECT g.thresh_milli, CAST(COALESCE(st.n_pairs, 0) AS BIGINT) AS n_pairs, " +
        "CAST(COALESCE(st.n_dup_docs, 0) AS BIGINT) AS n_dup_docs, " +
        "CAST((COALESCE(st.n_dup_docs, 0) * 1000000) // nullif(tot.n_docs, 0) AS BIGINT) AS dup_ppm " +
        "FROM grid g LEFT JOIN st USING (thresh_milli) CROSS JOIN tot " +
        "ORDER BY g.thresh_milli"),

    "dedup_rate_report" ->
      (s"WITH $sqlShingleCte, " +
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5), " +
        "pl AS (SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b " +
        "FROM pairs p JOIN documents da ON p.doc_a = da.doc_id " +
        "JOIN documents db ON p.doc_b = db.doc_id), " +
        "w AS (SELECT src_a AS source, COUNT(*) AS n_pairs_within FROM pl " +
        "WHERE src_a = src_b GROUP BY 1), " +
        "x AS (SELECT source, COUNT(*) AS n_pairs_cross FROM (" +
        "SELECT src_a AS source FROM pl WHERE src_a != src_b " +
        "UNION ALL SELECT src_b FROM pl WHERE src_a != src_b) GROUP BY 1), " +
        "dd AS (SELECT src_b AS source, COUNT(*) AS n_dup_docs FROM (" +
        "SELECT DISTINCT doc_b, src_b FROM pl) GROUP BY 1), " +
        "base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1) " +
        "SELECT base.source, base.n_docs, " +
        "CAST(COALESCE(dd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs, " +
        "CAST(COALESCE(w.n_pairs_within, 0) AS BIGINT) AS n_pairs_within, " +
        "CAST(COALESCE(x.n_pairs_cross, 0) AS BIGINT) AS n_pairs_cross, " +
        "CAST(COALESCE(dd.n_dup_docs, 0) AS DOUBLE) / base.n_docs AS dup_rate " +
        "FROM base LEFT JOIN dd USING (source) LEFT JOIN w USING (source) " +
        "LEFT JOIN x USING (source) ORDER BY base.source"),

    // repetition stats: top-token count via relational mode (unnest +
    // group by) — the ORACLE may shuffle; the engine's narrow sorted-run
    // formulation must produce identical integers, and the fractions are
    // single divisions of those exact integers on both sides
    "text_rep_quality" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents), " +
        "tc AS (SELECT doc_id, w, COUNT(*) AS c FROM " +
        "(SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY 1, 2), " +
        "top AS (SELECT doc_id, MAX(c) AS top_cnt FROM tc GROUP BY 1), " +
        "bi AS (SELECT doc_id, len(ws) AS n_tokens, GREATEST(len(ws)-1, 0) AS n_bi, " +
        "len(list_distinct(list_transform(range(1, len(ws)), " +
        "i -> ws[i] || ' ' || ws[i+1]))) AS n_bid FROM t) " +
        "SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(top.top_cnt AS BIGINT) AS top_token_cnt, " +
        "CAST(top.top_cnt AS DOUBLE) / b.n_tokens AS top_token_frac, " +
        "CAST(b.n_bi - b.n_bid AS BIGINT) AS dup_bigrams, " +
        "CASE WHEN b.n_bi > 0 THEN CAST(b.n_bi - b.n_bid AS DOUBLE) / b.n_bi ELSE 0.0 END AS dup_bigram_frac, " +
        "(CAST(top.top_cnt AS DOUBLE) / b.n_tokens <= 0.2 AND " +
        "CASE WHEN b.n_bi > 0 THEN CAST(b.n_bi - b.n_bid AS DOUBLE) / b.n_bi ELSE 0.0 END <= 0.2) AS keep " +
        "FROM bi b JOIN top USING (doc_id) ORDER BY doc_id"),

    "ngram_topk" ->
      ("WITH t AS (SELECT lang, string_split(text,' ') AS ws FROM documents), " +
        "b AS (SELECT lang, unnest(list_distinct(list_transform(range(1, len(ws)), " +
        "i -> ws[i] || ' ' || ws[i+1]))) AS bigram FROM t), " +
        "c AS (SELECT lang, bigram, COUNT(*) AS df FROM b GROUP BY 1, 2), " +
        "r AS (SELECT lang, bigram, CAST(df AS BIGINT) AS df, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, bigram) AS BIGINT) AS rnk FROM c) " +
        "SELECT lang, rnk, bigram, df FROM r WHERE rnk <= 10 ORDER BY lang, rnk"),

    // connected components of the capped near-dup pair graph: the
    // recursive CTE enumerates (node, smaller-reachable-label) pairs;
    // MIN per node = the component's smallest doc_id — exactly the
    // engine's min-label-propagation fixpoint
    "dedup_cluster" ->
      (s"WITH RECURSIVE $sqlShingleCte, " +
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pr AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5), " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pr " +
        "UNION ALL SELECT doc_b, doc_a FROM pr), " +
        "reach(node, lbl) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node WHERE r.lbl < e.b) " +
        "SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id, " +
        "MIN(lbl) = node AS is_keeper FROM reach GROUP BY node ORDER BY doc_id"),

    // the same recursive CC, histogrammed
    "dedup_cluster_sizes" ->
      (s"WITH RECURSIVE $sqlShingleCte, " +
        "shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN (" +
        "SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") keep ON sh.shingle = keep.shingle), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pr AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5), " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pr " +
        "UNION ALL SELECT doc_b, doc_a FROM pr), " +
        "reach(node, lbl) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node WHERE r.lbl < e.b), " +
        "cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node), " +
        "cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY 1) " +
        "SELECT sz AS cluster_size, COUNT(*) AS n_clusters, " +
        "CAST(SUM(sz) AS BIGINT) AS n_docs FROM cs GROUP BY 1 ORDER BY 1"),

    "window_moving_avg" ->
      ("SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / " +
        "COUNT(value) OVER w AS mov_avg " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, ts, event_id"),

    // EWMA replay: the 10-term power-of-two lag chain is GENERATED here
    // (weights 2^(9-i) — same loop bounds as the engine's terms), so
    // the truncation depth can never desync between the two sides
    "window_ewma" ->
      ("WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS v_cents " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT event_type, CAST(day AS TIMESTAMP) AS day, v_cents, " +
        ("v_cents * 512" +:
          (1 until 10).map(i =>
            s"COALESCE(lag(v_cents, $i) OVER w, 0) * ${1L << (9 - i)}"))
          .mkString(" + ") +
        " AS ewma_x1024 " +
        "FROM dly WINDOW w AS (PARTITION BY event_type ORDER BY day) " +
        "ORDER BY event_type, day"),

    // SUM(BIGINT) widens to HUGEINT in DuckDB — cast back
    "corpus_stats" ->
      ("WITH d AS (SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens, " +
        "COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY source), " +
        "t AS (SELECT source, COUNT(DISTINCT tok) AS distinct_tokens FROM " +
        "(SELECT source, unnest(string_split(text,' ')) AS tok FROM documents) " +
        "GROUP BY source) " +
        "SELECT d.source, d.n_docs, d.total_tokens, d.n_langs, t.distinct_tokens " +
        "FROM d JOIN t USING (source) ORDER BY source"),

    // the composed pipeline, end-to-end: each stage's formula is the
    // SAME text as its standalone oracle (quality, repetition, exact-dup
    // fingerprint, capped 3-gram near-dup pairs, recursive-CTE
    // components, md5 holdout) — chained over progressively-filtered
    // document sets
    "corpus_pipeline" ->
      (s"WITH RECURSIVE $sqlPipelineCtes " +
        "SELECT wv.doc_id, wv.source, wv.lang, " +
        "CASE WHEN substring(md5(CAST(wv.doc_id AS VARCHAR)), 1, 1) IN ('0','1') " +
        "THEN 'test' ELSE 'train' END AS split, wv.quality " +
        "FROM wv JOIN cl USING (doc_id) WHERE cl.cid = wv.doc_id ORDER BY wv.doc_id"),

    // funnel replay: the SAME pipeline CTE chain, final select swapped
    // for the per-stage count/token attrition union
    "corpus_funnel_report" ->
      (s"WITH RECURSIVE $sqlPipelineCtes, " +
        "keptx AS (SELECT wv.* FROM wv JOIN cl USING (doc_id) WHERE cl.cid = wv.doc_id), " +
        "st AS (SELECT 0 AS stage_idx, 'ingest' AS stage, COUNT(*) AS n_docs, " +
        "COALESCE(SUM(len(string_split(text,' '))), 0) AS n_tokens FROM documents " +
        "UNION ALL SELECT 1, 'quality_gate', COUNT(*), " +
        "COALESCE(SUM(len(string_split(text,' '))), 0) FROM gated " +
        "UNION ALL SELECT 2, 'exact_dedup', COUNT(*), " +
        "COALESCE(SUM(len(string_split(text,' '))), 0) FROM wv " +
        "UNION ALL SELECT 3, 'near_dup', COUNT(*), " +
        "COALESCE(SUM(len(string_split(text,' '))), 0) FROM keptx " +
        "UNION ALL SELECT 4, 'train_split', COUNT(*), " +
        "COALESCE(SUM(len(string_split(text,' '))), 0) FROM keptx " +
        "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0','1')), " +
        "ing AS (SELECT n_docs AS ingest_docs FROM st WHERE stage_idx = 0) " +
        "SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, " +
        "CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(n_docs * 1000000 // nullif(ingest_docs, 0) AS BIGINT) AS docs_ppm " +
        "FROM st, ing ORDER BY stage_idx"),
  )

  /** Shared WITH-body of the composed-pipeline oracle (corpus_pipeline
    * + corpus_funnel_report): gates → exact-dup winners → capped
    * 3-gram near-dup components. Interpolated after `WITH RECURSIVE`. */
  private def sqlPipelineCtes: String =
    ("t AS (SELECT doc_id, text, lang, source, string_split(text,' ') AS ws FROM documents), " +
        "tc AS (SELECT doc_id, MAX(c) AS top_cnt FROM (SELECT doc_id, w, COUNT(*) AS c FROM " +
        "(SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY 1, 2) GROUP BY 1), " +
        "rp AS (SELECT t.doc_id, CAST(tc.top_cnt AS DOUBLE) / len(t.ws) AS tf, " +
        "CASE WHEN len(t.ws) - 1 > 0 THEN CAST((len(t.ws) - 1) - " +
        "len(list_distinct(list_transform(range(1, len(t.ws)), i -> t.ws[i] || ' ' || t.ws[i+1]))) AS DOUBLE) " +
        "/ (len(t.ws) - 1) ELSE 0.0 END AS bf FROM t JOIN tc USING (doc_id)), " +
        "qual AS (SELECT doc_id, " +
        "(((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END) * 0.25 + " +
        "(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))) * 0.25) + " +
        "((CASE WHEN (CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' '))) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.25 + " +
        s"(CASE WHEN (CAST(len(list_filter(string_split(text,' '), x -> x IN ($sqlStopwords))) AS DOUBLE) / len(string_split(text,' '))) > 0.0 " +
        s"AND (CAST(len(list_filter(string_split(text,' '), x -> x IN ($sqlStopwords))) AS DOUBLE) / len(string_split(text,' '))) < 0.5 THEN 1.0 ELSE 0.0 END) * 0.25)) AS quality " +
        "FROM documents), " +
        "gated AS (SELECT t.doc_id, t.text, t.lang, t.source, qual.quality " +
        "FROM t JOIN rp USING (doc_id) JOIN qual USING (doc_id) " +
        "WHERE qual.quality >= 0.5 AND rp.tf <= 0.2 AND rp.bf <= 0.2), " +
        "win AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY " +
        "md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) ORDER BY doc_id) AS rn FROM gated), " +
        "wv AS (SELECT doc_id, text, lang, source, quality FROM win WHERE rn = 1), " +
        "wtoks AS (SELECT doc_id, string_split(text,' ') AS wt FROM wv), " +
        "wsh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(wt)-1, 1)), i -> wt[i] || ' ' || wt[i+1] || ' ' || wt[i+2]))) AS shingle FROM wtoks), " +
        "shc AS (SELECT wsh.doc_id, wsh.shingle FROM wsh JOIN (" +
        "SELECT shingle FROM wsh GROUP BY shingle HAVING COUNT(*) <= 100" +
        ") kp ON wsh.shingle = kp.shingle), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pr AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5), " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pr " +
        "UNION ALL SELECT doc_b, doc_a FROM pr), " +
        "reach(node, lbl) AS (" +
        "SELECT doc_id, doc_id FROM wv " +
        "UNION " +
        "SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node WHERE r.lbl < e.b), " +
        "cl AS (SELECT node AS doc_id, MIN(lbl) AS cid FROM reach GROUP BY node)")
}
