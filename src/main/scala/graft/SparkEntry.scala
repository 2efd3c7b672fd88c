package graft

import graft.operators._
import graft.config.ExportConfig
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is an operator from SURVEY.md §2 (Group A =
  * the reference's faithful surface, Group B = the analytics/LLM-pipeline
  * extensions). Keys with DuckDB-expressible semantics also appear in
  * [[oracleSql]]; column names and row ordering match exactly between the
  * Spark query and the oracle SQL.
  */
object SparkEntry extends SessionArtifacts with RegistryConduit
    with RegistryAnalytics with RegistryCorpusText with RegistrySimilarity {

  import ExportOps.Sentinel

  // ---- session memos (see SessionArtifacts): one in-memory value per
  // (session, data dir); each `*Shared` memo is read as `xShared(s, d)`

  /** The capped near-dup PAIR relation (threshold 0.5, n=3, maxDf=100):
    * `dedup_fuzzy` and `dedup_cluster` consume the SAME relation, so the
    * harness materializes it once (eager localCheckpoint — truncated
    * lineage, tiny next to the corpus) and both queries read it — the
    * deployed shape, where a pipeline computes the pair relation once
    * and every consumer (pair report, clustering, suppression) reads
    * that table. `corpus_pipeline` CANNOT share it: its graph is over
    * the gated+exact-deduped winners, a different vertex set whose
    * df-caps and components differ by construction. */
  private[graft] val nearDupPairsShared = memo("memo:near_dup_pairs") { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), threshold = 0.5,
      maxDf = Some(100), scope = harnessScope).localCheckpoint()
  }

  /** The order co-occurrence EDGE relation: `graph_pagerank` and
    * `graph_triangles` traverse the SAME graph, so the harness
    * materializes the 3-shuffle edge build once (eager localCheckpoint —
    * the edge table is bounded by per-order fan-out, tiny next to
    * lineitem) and both consumers read it — the deployed shape, where a
    * pipeline maintains one edge table and every graph job (ranking,
    * counting, components) reads that table. */
  private[graft] val coOrderEdgesShared = memo("memo:co_order_edges") { (s, d) =>
    operators.Graph.coOrderEdges(Tables.lineitem(s, d)).localCheckpoint()
  }

  /** The ORIENTED TRIANGLE relation (round 12): `graph_triangles` and
    * `graph_link_jaccard` both consume the exact (x, y, z) enumeration,
    * so the harness materializes it once past the shared edges and both
    * audits read the table — the deployed shape, where a pipeline
    * enumerates triangles once and counting / link scoring /
    * clustering-coefficient reads all derive from that relation.
    * Triangle count is edge-bounded (≤ |E|·√(2|E|) worst case, far
    * smaller on real graphs), so the checkpoint is small next to
    * lineitem. */
  private[graft] val trianglesShared = memo("memo:triangles") { (s, d) =>
    val edges = coOrderEdgesShared(s, d).select(col("a"), col("b"))
    // data-scaled shuffle width for the enumeration (VERDICT r14
    // item 1): the edge memo is already materialized, so the count
    // is a cheap local scan; ~250k edges/partition keeps each
    // adjacency-join partition sort in memory at any input scale
    // instead of inheriting a session constant sized for sf0.1
    val nPart = math.max(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      math.min(4096L, edges.count() / 250000L + 1L).toInt)
    operators.Graph.orientedTriangles(edges, adjPartitions = Some(nPart))
      .localCheckpoint()
  }

  /** The FINAL LPA LABELS (round 13): `graph_label_prop` (the community
    * sizes) and `graph_modularity` (the partition's quality score) both
    * consume the exact per-node label table — the deployed shape, where
    * a pipeline runs community detection once and every readout reads
    * that table. Bounded by the node count. */
  private[graft] val lpaLabelsShared = memo("memo:lpa_labels") { (s, d) =>
    operators.Graph.labelPropLabels(Tables.lineitem(s, d),
      coOrderEdgesShared(s, d)).localCheckpoint()
  }

  /** The TRAINED unigram model: `tokenizer_unigram` and
    * `tokenizer_unigram_encode` read the SAME 2-round hard-EM result (all
    * frames materialized LogicalRDDs), so the harness trains once and
    * both views read it — the deployed shape, where a pipeline trains its
    * tokenizer once and every consumer (vocab report, corpus encode)
    * reads the trained table. */
  private[graft] val unigramModelShared = memo("memo:unigram_model") { (s, d) =>
    val m = operators.Tokenizer.unigramTrain(Tables.documents(s, d))
    m.vocab.count() // eager: the build entry pays the training wall
    m
  }

  /** The TRAINED BPE state: `tokenizer_bpe` reads the ranked-pairs
    * frames, `tokenizer_compression` reads the symbol frames — one
    * training chain, two views (the frames are identical for any topK
    * because the applied merge is always the rank-1 pair). */
  private[graft] val bpeModelShared = memo("memo:bpe_model") { (s, d) =>
    // harnessScope materializes every frame (localCheckpoint — blocks
    // outlive release(), the memo-safe lifecycle)
    operators.Tokenizer.bpeTrain(Tables.documents(s, d), topK = 5,
      scope = harnessScope)
  }

  /** REGISTRY-DECLARED memo dependencies (round 15, VERDICT r14
    * item 7) — the single source of truth for which query keys read
    * which shared memo artifact. ORDERED: an entry that reads an
    * earlier memo builds after it (triangles/lpa_labels read
    * co_order_edges), so Bench's memo entries, their build order and
    * the `memo_fed` list derive from this declaration. gen_board_appendix.py
    * parses the region between the MEMO-DEPS markers and emits the
    * deps as a §2-A column; MemoDepsSpec proves the declaration exact
    * against the [[memoReadLog]] recorder (an undeclared memo read
    * fails the suite). */
  // MEMO-DEPS-BEGIN (parsed by tools/gen_board_appendix.py)
  val memoDeps: Seq[(String, Seq[String])] = Seq(
    "memo:near_dup_pairs" -> Seq("dedup_cluster", "dedup_fuzzy",
      "dedup_rate_report", "dedup_cluster_sizes",
      "dedup_threshold_curve"),
    // the full measured read set (MemoDepsSpec recorder) — the hand
    // list this replaced was missing SEVEN keys (the 6 round-13/14
    // graph audits below from assortativity on, plus bpe_encode): each
    // was reading a memo while unflagged in memo_fed, exactly the
    // bench misattribution the recorder now fails the suite over
    "memo:co_order_edges" -> Seq("graph_pagerank", "graph_triangles",
      "graph_degree_dist", "graph_link_jaccard", "graph_cluster_coeff",
      "graph_components", "order_affinity_rules", "graph_label_prop",
      "graph_modularity", "graph_assortativity", "graph_bfs_layers",
      "graph_closeness", "graph_degree_gini", "graph_kcore",
      "graph_weight_hist", "graph_adamic_adar", "graph_rich_club",
      "graph_two_hop_reach", "graph_ecc_seeds", "graph_resource_alloc",
      "graph_harmonic_seeds", "graph_katz", "graph_transitivity"),
    "memo:triangles" -> Seq("graph_triangles", "graph_link_jaccard",
      "graph_cluster_coeff", "graph_adamic_adar", "graph_resource_alloc",
      "graph_transitivity"),
    "memo:lpa_labels" -> Seq("graph_label_prop", "graph_modularity"),
    "memo:unigram_model" -> Seq("tokenizer_unigram",
      "tokenizer_unigram_encode"),
    "memo:bpe_model" -> Seq("tokenizer_bpe", "tokenizer_bpe_encode",
      "tokenizer_compression"))
  // MEMO-DEPS-END

  /** DuckDB-portable sentinel expression (mirrors ExportOps.nullSentinel;
    * the [\x00-\x20] class means the same thing to RE2 as to Java). */
  private[graft] def sqlSentinel(c: String): String =
    s"CASE WHEN $c IS NULL OR regexp_matches($c, '^[\\x00-\\x20]*$$') THEN '$Sentinel' ELSE $c END"

  /** DuckDB strftime equivalent of ExportOps.OdbcTsFormat. */
  private[graft] val sqlTsFmt = "'%Y-%m-%d %H:%M:%S.%g'"

  /** BPE training oracle: the 3 merge steps unrolled into chained CTEs —
    * each step replays Tokenizer.bpeMergeStats' pair stats, rank-1 pick
    * and island-parity greedy merge verbatim (same tie-breaks, same
    * null-free window arithmetic). */
  private[graft] def sqlBpe(steps: Int, topK: Int): String = {
    val branches = (1 to steps).map { s =>
      s"SELECT CAST($s AS BIGINT) AS step, rank, sym AS left_sym, " +
        s"nxt AS right_sym, pair_weight FROM rk$s WHERE rank <= $topK"
    }.mkString(" UNION ALL ")
    s"${sqlBpeCtes(steps)} SELECT * FROM ($branches) ORDER BY step, rank"
  }

  /** Compression-curve oracle: the same training CTE chain, each frame
    * f1..f{steps+1} aggregated to (total, distinct) symbol counts. */
  private[graft] def sqlBpeCompression(steps: Int): String = {
    val branches = (0 to steps).map { s =>
      s"SELECT CAST($s AS BIGINT) AS step, " +
        s"CAST(coalesce(SUM(cnt), 0) AS BIGINT) AS total_symbols, " +
        s"CAST(COUNT(DISTINCT sym) AS BIGINT) AS distinct_symbols FROM f${s + 1}"
    }.mkString(" UNION ALL ")
    s"${sqlBpeCtes(steps)} SELECT * FROM ($branches) ORDER BY step"
  }

  /** WordPiece-training oracle: the BPE chain with the likelihood-
    * scored rank CTE — per step, symbol frequencies off the current
    * frame, score = (w·10^9) // (fl·fr) (DuckDB `//` floors ≡ Spark
    * `div` truncates on this positive domain), rank by (score DESC,
    * sym, nxt). Same island-parity merge application. */
  private[graft] def sqlWordpieceTrain(steps: Int, topK: Int): String = {
    val branches = (1 to steps).map { s =>
      s"SELECT CAST($s AS BIGINT) AS step, rank, sym AS left_sym, " +
        s"nxt AS right_sym, pair_weight, score FROM rk$s WHERE rank <= $topK"
    }.mkString(" UNION ALL ")
    s"${sqlBpeCtes(steps, likelihoodScore = true)} " +
      s"SELECT * FROM ($branches) ORDER BY step, rank"
  }

  private[graft] def sqlBpeCtes(steps: Int,
                                likelihoodScore: Boolean = false): String = {
    val head =
      "WITH wc AS (SELECT word, COUNT(*) AS cnt FROM (SELECT unnest(" +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ')" +
        ") AS word FROM documents) WHERE len(word) > 0 GROUP BY 1), " +
      "f0 AS (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS pos FROM wc), " +
      "f1 AS (SELECT word, cnt, CAST(pos AS BIGINT) AS pos, " +
        "substring(word, pos, 1) AS sym FROM f0)"
    val stepCtes = (1 to steps).map { s =>
      val rk =
        if (!likelihoodScore)
          s"rk$s AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pair_weight, " +
            "CAST(ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, sym, nxt) AS BIGINT) " +
            s"AS rank FROM p$s WHERE nxt IS NOT NULL GROUP BY sym, nxt), "
        else
          s"sf$s AS (SELECT sym, CAST(SUM(cnt) AS BIGINT) AS sfreq FROM f$s GROUP BY 1), " +
            s"rk$s AS (SELECT sym, nxt, pair_weight, score, " +
            "CAST(ROW_NUMBER() OVER (ORDER BY score DESC, sym, nxt) AS BIGINT) AS rank FROM " +
            s"(SELECT p.sym, p.nxt, CAST(SUM(p.cnt) AS BIGINT) AS pair_weight, " +
            "CAST((CAST(SUM(p.cnt) AS BIGINT) * 1000000000) // (fl.sfreq * fr.sfreq) AS BIGINT) AS score " +
            s"FROM p$s p JOIN sf$s fl ON fl.sym = p.sym JOIN sf$s fr ON fr.sym = p.nxt " +
            "WHERE p.nxt IS NOT NULL GROUP BY p.sym, p.nxt, fl.sfreq, fr.sfreq)), "
      s"p$s AS (SELECT word, cnt, pos, sym, " +
        s"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM f$s), " +
      rk +
      s"t$s AS (SELECT sym AS mx, nxt AS my FROM rk$s WHERE rank = 1), " +
      s"m$s AS (SELECT word, cnt, pos, sym, mx, my, " +
        "(nxt IS NOT NULL AND sym = mx AND nxt = my) AS im " +
        s"FROM p$s CROSS JOIN t$s), " +
      s"r$s AS (SELECT *, SUM(CASE WHEN im THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY word ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING " +
        s"AND CURRENT ROW) AS mrk FROM m$s), " +
      s"q$s AS (SELECT *, pos - mrk AS island FROM r$s), " +
      s"u$s AS (SELECT *, (im AND (pos - min(CASE WHEN im THEN pos END) " +
        s"OVER (PARTITION BY word, island)) % 2 = 0) AS sel FROM q$s), " +
      s"v$s AS (SELECT *, coalesce(lag(sel) OVER " +
        s"(PARTITION BY word ORDER BY pos), FALSE) AS dropped FROM u$s), " +
      s"f${s + 1} AS (SELECT word, cnt, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, " +
        "CASE WHEN sel THEN mx || my ELSE sym END AS sym " +
        s"FROM v$s WHERE NOT dropped)"
    }.mkString(", ")
    s"$head, $stepCtes"
  }

  /** BPE encode-profile oracle (round 13): the full training chain
    * (t1..tN are the applied pairs) + the SAME application blocks
    * unrolled over the HOLDOUT word table, then the per-piece-length
    * profile. */
  private[graft] def sqlBpeEncode(steps: Int): String = {
    val hold = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')"
    val head =
      "hw AS (SELECT word, COUNT(*) AS cnt FROM (SELECT unnest(" +
        "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ')" +
        s") AS word FROM documents WHERE $hold) WHERE len(word) > 0 GROUP BY 1), " +
        "h0 AS (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS pos FROM hw), " +
        "h1 AS (SELECT word, cnt, CAST(pos AS BIGINT) AS pos, " +
        "substring(word, pos, 1) AS sym FROM h0)"
    val stepCtes = (1 to steps).map { s =>
      s"hp$s AS (SELECT word, cnt, pos, sym, " +
        s"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM h$s), " +
        s"hm$s AS (SELECT word, cnt, pos, sym, mx, my, " +
        "(nxt IS NOT NULL AND sym = mx AND nxt = my) AS im " +
        s"FROM hp$s CROSS JOIN t$s), " +
        s"hr$s AS (SELECT *, SUM(CASE WHEN im THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY word ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING " +
        s"AND CURRENT ROW) AS mrk FROM hm$s), " +
        s"hq$s AS (SELECT *, pos - mrk AS island FROM hr$s), " +
        s"hu$s AS (SELECT *, (im AND (pos - min(CASE WHEN im THEN pos END) " +
        s"OVER (PARTITION BY word, island)) % 2 = 0) AS sel FROM hq$s), " +
        s"hv$s AS (SELECT *, coalesce(lag(sel) OVER " +
        s"(PARTITION BY word ORDER BY pos), FALSE) AS dropped FROM hu$s), " +
        s"h${s + 1} AS (SELECT word, cnt, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, " +
        "CASE WHEN sel THEN mx || my ELSE sym END AS sym " +
        s"FROM hv$s WHERE NOT dropped)"
    }.mkString(", ")
    s"${sqlBpeCtes(steps)}, $head, $stepCtes, " +
      s"pg AS (SELECT sym, CAST(SUM(cnt) AS BIGINT) AS freq " +
      s"FROM h${steps + 1} GROUP BY 1) " +
      "SELECT CAST(len(sym) AS BIGINT) AS piece_len, " +
      "CAST(COUNT(*) AS BIGINT) AS n_pieces, " +
      "CAST(SUM(freq) AS BIGINT) AS occurrences, " +
      "CAST(SUM(len(sym) * freq) AS BIGINT) AS chars_covered " +
      "FROM pg GROUP BY 1 ORDER BY 1"
  }

  /** Unigram-tokenizer oracle (round 10): the ENTIRE 2-round hard-EM
    * train unrolled into CTEs — seed inventory, per-round vocab ranking,
    * the Viterbi DP over word positions 1..12, the backtrack walk, and
    * the usage M-step — replaying Tokenizer.unigramVocab verbatim (the
    * integer cost surrogate makes every comparison a BIGINT compare, so
    * rank/argmin tie-breaks are bit-identical; ROW_NUMBER here equals
    * the engine's window-free count-of-better ranks because (freq,
    * piece) totally orders the vocab and (cost, k) totally orders the
    * DP candidates). */
  private[graft] val UgMaxLen = 12
  private[graft] val UgMaxK = 3

  /** voc<it>/v<it>: singles (always present, freq 0 allowed) + top-32
    * multi-char pieces of `freqRel` by (freq DESC, piece), ranked. */
  private[graft] def sqlUnigramVocab(it: Int, freqRel: String): String =
    s"voc$it AS MATERIALIZED (SELECT piece, freq FROM (SELECT s.piece, " +
      s"coalesce(f.freq, 0) AS freq FROM singles s LEFT JOIN $freqRel f " +
      "USING (piece)) " +
      s"UNION ALL SELECT piece, freq FROM (SELECT piece, freq FROM $freqRel " +
      "WHERE len(piece) >= 2 ORDER BY freq DESC, piece LIMIT 32)), " +
      s"v$it AS MATERIALIZED (SELECT piece, freq, CAST(ROW_NUMBER() OVER " +
      s"(ORDER BY freq DESC, piece) AS BIGINT) AS rank FROM voc$it)"

  /** One EM round: DP frames b<it>_0..12 (min cost + chosen piece
    * length per position), backtrack e<it>_1..12, usage u<it>. */
  private[graft] def sqlUnigramEm(it: Int): String = {
    val b0 = s"b${it}_0 AS MATERIALIZED (SELECT word, wl, CAST(0 AS BIGINT) AS cost, " +
      "CAST(0 AS BIGINT) AS k FROM w)"
    val dp = (1 to UgMaxLen).map { p =>
      val ks = (1 to math.min(UgMaxK, p)).map { k =>
        s"SELECT b.word, b.wl, b.cost + 1000000 + v.rank AS cost, " +
          s"CAST($k AS BIGINT) AS k FROM b${it}_${p - k} b " +
          s"JOIN v${it - 1} v ON v.piece = substring(b.word, ${p - k + 1}, $k) " +
          s"WHERE b.wl >= $p"
      }.mkString(" UNION ALL ")
      s"c${it}_$p AS MATERIALIZED ($ks), " +
        s"b${it}_$p AS MATERIALIZED (SELECT word, wl, cost, k FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY word ORDER BY cost, k) AS rn " +
        s"FROM c${it}_$p) WHERE rn = 1)"
    }.mkString(", ")
    val bb = s"bb$it AS MATERIALIZED (" + (1 to UgMaxLen).map(p =>
      s"SELECT word, CAST($p AS BIGINT) AS p, k FROM b${it}_$p")
      .mkString(" UNION ALL ") + ")"
    val s0 = s"s${it}_0 AS MATERIALIZED (SELECT word, cnt, wl AS p FROM w)"
    val bt = (1 to UgMaxLen).map { j =>
      s"e${it}_$j AS MATERIALIZED (SELECT s.word, s.cnt, s.p, bb.k, " +
        "substring(s.word, CAST(s.p - bb.k + 1 AS INTEGER), " +
        "CAST(bb.k AS INTEGER)) AS piece " +
        s"FROM s${it}_${j - 1} s JOIN bb$it bb " +
        "ON bb.word = s.word AND bb.p = s.p), " +
        s"s${it}_$j AS MATERIALIZED (SELECT word, cnt, p - k AS p FROM e${it}_$j " +
        "WHERE p - k > 0)"
    }.mkString(", ")
    val u = s"u$it AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS freq FROM (" +
      (1 to UgMaxLen).map(j => s"SELECT piece, cnt FROM e${it}_$j")
        .mkString(" UNION ALL ") + ") GROUP BY piece)"
    Seq(b0, dp, bb, s0, bt, u).mkString(", ")
  }

  /** Shared word/substring-inventory base (wc0, w, occ, singles, f0,
    * voc0/v0) — the front half of the unigram oracle, also the whole
    * vocab derivation of the wordpiece oracle. */
  private[graft] lazy val sqlWordBaseCtes: String =
    "WITH wc0 AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM (SELECT unnest(" +
      "string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ')" +
      ") AS word FROM documents) WHERE len(word) > 0 GROUP BY 1), " +
      "w AS MATERIALIZED (SELECT word, cnt, CAST(len(word) AS BIGINT) AS wl FROM (" +
      s"SELECT substring(word, 1, $UgMaxLen) AS word, " +
      "CAST(SUM(cnt) AS BIGINT) AS cnt FROM wc0 GROUP BY 1)), " +
      "occ AS MATERIALIZED (SELECT t.word, t.cnt, t.p, ks.k, " +
      "substring(t.word, CAST(t.p - ks.k + 1 AS INTEGER), ks.k) AS piece " +
      "FROM (SELECT word, cnt, wl, unnest(range(1, wl + 1)) AS p FROM w) t, " +
      s"(VALUES ${(1 to UgMaxK).map(k => s"($k)").mkString(", ")}) AS ks(k) " +
      "WHERE ks.k <= t.p), " +
      "singles AS MATERIALIZED (SELECT DISTINCT piece FROM occ WHERE k = 1), " +
      "f0 AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS freq FROM occ GROUP BY 1), " +
      sqlUnigramVocab(0, "f0")

  private[graft] lazy val sqlUnigramCtes: String =
    sqlWordBaseCtes + ", " +
      sqlUnigramEm(1) + ", " + sqlUnigramVocab(1, "u1") + ", " +
      sqlUnigramEm(2) + ", " + sqlUnigramVocab(2, "u2")

  private[graft] lazy val sqlUnigram: String =
    sqlUnigramCtes + " " +
      "SELECT rank, piece, CAST(len(piece) AS BIGINT) AS piece_len, " +
      "freq AS usage FROM v2 WHERE rank <= 24 ORDER BY rank"

  /** Wordpiece oracle: the shared vocab base (voc0 IS the wordpiece
    * vocabulary), then the greedy longest-match unroll — each step a
    * max-piece-length join at the cursor, no DP, no backtrack —
    * aggregated to the same per-piece-length profile contract as the
    * unigram encode. Every CTE MATERIALIZED (gm<i> is referenced
    * twice; inlining would fork the plan 2^steps ways). */
  private[graft] lazy val sqlWordpiece: String = {
    val steps = (1 to UgMaxLen).map { i =>
      s"gm$i AS MATERIALIZED (SELECT st.word, st.cnt, st.wl, st.p, " +
        s"MAX(v.plen) AS k FROM g${i - 1} st JOIN vw v " +
        "ON substring(st.word, CAST(st.p AS INTEGER), CAST(v.plen AS INTEGER)) = v.piece " +
        "GROUP BY 1, 2, 3, 4), " +
        s"ge$i AS MATERIALIZED (SELECT substring(word, CAST(p AS INTEGER), " +
        s"CAST(k AS INTEGER)) AS piece, cnt FROM gm$i), " +
        s"g$i AS MATERIALIZED (SELECT word, cnt, wl, p + k AS p FROM gm$i " +
        "WHERE p + k <= wl)"
    }.mkString(", ")
    sqlWordBaseCtes + ", " +
      "vw AS MATERIALIZED (SELECT piece, CAST(len(piece) AS BIGINT) AS plen FROM voc0), " +
      "g0 AS MATERIALIZED (SELECT word, cnt, wl, CAST(1 AS BIGINT) AS p FROM w), " +
      steps + ", " +
      "gu AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS freq FROM (" +
      (1 to UgMaxLen).map(i => s"SELECT piece, cnt FROM ge$i")
        .mkString(" UNION ALL ") + ") GROUP BY 1) " +
      "SELECT CAST(len(piece) AS BIGINT) AS piece_len, " +
      "CAST(COUNT(*) AS BIGINT) AS n_pieces, " +
      "CAST(SUM(freq) AS BIGINT) AS occurrences, " +
      "CAST(SUM(len(piece) * freq) AS BIGINT) AS chars_covered " +
      "FROM gu GROUP BY 1 ORDER BY 1"
  }

  /** Encode-side oracle: one MORE unrolled E-step (em(3) under v2 — the
    * final trained vocab), aggregated to the per-piece-length profile. */
  private[graft] lazy val sqlUnigramEncode: String =
    sqlUnigramCtes + ", " + sqlUnigramEm(3) + " " +
      "SELECT CAST(len(piece) AS BIGINT) AS piece_len, " +
      "CAST(COUNT(*) AS BIGINT) AS n_pieces, " +
      "CAST(SUM(freq) AS BIGINT) AS occurrences, " +
      "CAST(SUM(len(piece) * freq) AS BIGINT) AS chars_covered " +
      "FROM u3 GROUP BY 1 ORDER BY 1"

  /** Flagship: the reference's whole pipeline on `events` — meta-project,
    * sentinel partition routing, ODBC ts format, JSON encode, group by
    * endpoint (SURVEY.md §7.1). Driver smoke-checks rows > 0 at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("group_by_endpoint")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- events
  // Payload column order for the events export pipeline (declaration order
  // minus the partition column event_type).
  private[graft] def routedEvents(s: SparkSession, dir: String): DataFrame =
    ExportPipeline.route(Tables.events(s, dir), Seq("event_type"))

  /** Oracle fragment: the JSON payload DuckDB-side, matching
    * ExportOps.partitionRoute on events with partition col event_type. */
  private[graft] val sqlEventsPayload =
    "to_json(struct_pack(" +
      "event_id := event_id, " +
      s"ts := strftime(ts, $sqlTsFmt), " +
      "user_id := user_id, " +
      "value := value, " +
      "props := props))::varchar"

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    conduitQueries ++ analyticsQueries ++ corpusTextQueries ++
      similarityQueries

  def oracleSql: Map[String, String] =
    conduitOracles ++ analyticsOracles ++ corpusTextOracles ++
      similarityOracles

  /** Stopword list literal shared by text oracles. */
  private[graft] def sqlStopwords: String =
    graft.operators.TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  /** Word-3-gram distinct shingles CTE (mirrors Dedup.shingles, n=3). */
  private[graft] val sqlShingleCte: String =
    "toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
      "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, greatest(len(t)-1, 1)), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks)"

  /** Integer-quantized embeddings + squared norms CTE (mirrors
    * Similarity.prepared). */
  private[graft] val sqlQuantCte: String =
    "q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS nrm FROM q)"

  /** Gap-based sessionization replay — the shared oracle of the batch
    * key (`event_sessionize`) and its stateful-streaming parity twin
    * (`stream_sessionize_parity`). */
  /** Gaps-and-islands session CTEs, shared by the sessionize oracles
    * and the concurrency sweep (interpolated after `WITH`). */
  private[graft] val sqlSessionCtes: String =
    "o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
      "d AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
      "OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM o " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
      "g AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts " +
      "ROWS UNBOUNDED PRECEDING) AS grp FROM d)"

  private[graft] val sqlSessionize: String =
    s"WITH $sqlSessionCtes " +
      "SELECT user_id, MIN(ts) AS sess_start, MAX(ts) + INTERVAL 30 MINUTE AS sess_end, " +
      "COUNT(*) AS n_events FROM g GROUP BY user_id, grp ORDER BY user_id, sess_start"

  /** Tumbling-window aggregation replay — the shared oracle of the
    * batch key (`event_window_tumbling`) and its streaming parity twin
    * (`stream_window_parity`): one SQL, two engines' worth of paths. */
  private[graft] val sqlTumblingWindows: String =
    "SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS win_start, " +
      "time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS win_end, " +
      "event_type, COUNT(*) AS n_events, " +
      "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value " +
      "FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type"

  /** Exact brute-force cosine top-k replay — the oracle for sim_topk
    * and for every serve path that is exact at validation scale
    * (sim_ann_hnsw_served). NaN (zero-norm) scores excluded, mirroring
    * Similarity's guard. */
  private[graft] val sqlBruteForceTopK: String =
    s"WITH $sqlQuantCte, " +
      "s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
      "CAST(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2])) AS DOUBLE) " +
      "/ (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos " +
      "FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id), " +
      "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
      "FROM s WHERE NOT isnan(cos)) " +
      "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 10 ORDER BY q_id, rank"

  /** MinHash-LSH oracle: exact replay of the engine's md5-affine MinHash
    * (graft.functions.PortableHash — the constants below are inlined from
    * the SAME generator the native expression uses), 16×4 banding on
    * decimal-string keys, then the identical exact-Jaccard verify as
    * dedup_fuzzy. Base hash = integer of md5's first 7 hex chars. */
  /** Shared MinHash front (shingles → 64 affine mins → 16×4 band keys)
    * — consumed by the pair oracle and the band-occupancy audit. */
  private[graft] def sqlMinHashBandsCtes: String = {
    val p = graft.functions.PortableHash.MinHashP
    val params = graft.functions.PortableHash.minHashParams(64)
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * h + $b) % $p) AS m$i"
    }.mkString(", ")
    val bands = (0 until 16).map { bd =>
      val key = (0 until 4).map(r => s"CAST(m${bd * 4 + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $bd AS band, $key AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"$sqlShingleCte, " +
      "hh AS (SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS h FROM sh), " +
      s"sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id), " +
      s"bands AS ($bands)"
  }

  private[graft] def sqlMinHash: String = {
    s"WITH $sqlMinHashBandsCtes, " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common FROM cand c " +
      "JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id " +
      "AND a.shingle = b.shingle GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, n_common, sa.sz + sb.sz - n_common AS n_union, " +
      "CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard " +
      "FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
      "WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5 " +
      "ORDER BY doc_a, doc_b"
  }

  /** Estimator-error replay: the SAME bands/sig/shingle fronts, the
    * 64-term agreement sum generated positionally, threshold from the
    * shared Dedup.MinHashAuditThresholdPpm constant. */
  private[graft] def sqlMinHashEstError: String = {
    val agree = (0 until 64)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val t = graft.operators.Dedup.MinHashAuditThresholdPpm
    s"WITH $sqlMinHashBandsCtes, " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      "sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common FROM cand c " +
      "JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id " +
      "AND a.shingle = b.shingle GROUP BY 1, 2), " +
      s"est AS (SELECT c.doc_a, c.doc_b, CAST($agree AS BIGINT) AS n_agree FROM cand c " +
      "JOIN sig sa ON c.doc_a = sa.doc_id JOIN sig sb ON c.doc_b = sb.doc_id), " +
      "p AS (SELECT (est.n_agree * 1000000) // 64 AS est_ppm, " +
      "(COALESCE(i.n_common, 0) * 1000000) // " +
      "(za.sz + zb.sz - COALESCE(i.n_common, 0)) AS exact_ppm " +
      "FROM est LEFT JOIN inter i ON est.doc_a = i.doc_a AND est.doc_b = i.doc_b " +
      "JOIN sizes za ON est.doc_a = za.doc_id JOIN sizes zb ON est.doc_b = zb.doc_id), " +
      "q AS (SELECT est_ppm, exact_ppm, abs(est_ppm - exact_ppm) AS abs_err FROM p) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
      "CAST(SUM(abs_err) // nullif(COUNT(*), 0) AS BIGINT) AS mean_abs_err_ppm, " +
      "CAST(MAX(abs_err) AS BIGINT) AS max_abs_err_ppm, " +
      s"CAST(SUM(CASE WHEN est_ppm >= $t AND exact_ppm < $t THEN 1 ELSE 0 END) AS BIGINT) AS n_est_only, " +
      s"CAST(SUM(CASE WHEN est_ppm < $t AND exact_ppm >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only " +
      "FROM q"
  }

  /** SimHash oracle: per-token md5 hash split into hex halves (hi = chars
    * 1-8 = digest bytes 0-3 = fingerprint bits 32-63; lo = chars 9-16 =
    * bits 0-31), ±1 votes per bit, votes >= 0 sets the bit, halves
    * recombined into the SIGNED 64-bit fingerprint the engine carries;
    * then the same Manku block-combination banding arithmetic as
    * Dedup.simHashBandKeys (numBlocks=6, maxHamming=3) and the exact
    * Hamming verify. DuckDB's >> is arithmetic like Spark's shiftright,
    * so block extraction agrees on negative fingerprints. */
  private[graft] def sqlSimHash: String = {
    val votes = (0 until 64).map { b =>
      val bit = if (b < 32) s"((lo >> $b) & 1)" else s"((hi >> ${b - 32}) & 1)"
      s"SUM(2 * $bit - 1) AS v$b"
    }.mkString(", ")
    val fhi = (32 until 64)
      .map(b => s"(CASE WHEN v$b >= 0 THEN ${1L << (b - 32)} ELSE 0 END)")
      .mkString(" + ")
    val flo = (0 until 32)
      .map(b => s"(CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    // block geometry mirrors Dedup.simHashBandKeys(maxHamming=3, numBlocks=6)
    val numBlocks = 6
    val maxHamming = 3
    val base = 64 / numBlocks
    val rem = 64 % numBlocks
    val widths = Seq.tabulate(numBlocks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    def block(i: Int) = s"((fp >> ${offsets(i)}) & ${(1L << widths(i)) - 1L})"
    val bands = (0 until numBlocks).combinations(numBlocks - maxHamming)
      .toSeq.zipWithIndex.map { case (combo, ci) =>
        val key = combo.foldLeft("CAST(0 AS BIGINT)") { (acc, b) =>
          s"(($acc << ${widths(b)}) | ${block(b)})"
        }
        s"SELECT doc_id, $ci AS band, $key AS key FROM fp"
      }.mkString(" UNION ALL ")
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
      "th AS (SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS hi, " +
      "CAST(('0x' || substring(md5(t), 9, 8)) AS BIGINT) AS lo FROM tok), " +
      s"v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id), " +
      s"fp0 AS (SELECT doc_id, $fhi AS fhi, $flo AS flo FROM v), " +
      "fp AS (SELECT doc_id, CASE WHEN fhi >= 2147483648 THEN " +
      "(fhi - 4294967296) * 4294967296 + flo ELSE fhi * 4294967296 + flo END AS fp " +
      "FROM fp0), " +
      s"bands AS ($bands), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) " +
      "SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming " +
      "FROM cand c JOIN fp fa ON c.doc_a = fa.doc_id JOIN fp fb ON c.doc_b = fb.doc_id " +
      "WHERE bit_count(xor(fa.fp, fb.fp)) <= 3 ORDER BY doc_a, doc_b"
  }

  /** Sign-LSH bucket CTE over the quantized embeddings (`n` from
    * sqlQuantCte): exact replay of graft.functions.SignLshBuckets'
    * deterministic LCG hyperplanes — the weight formula below is the
    * same integer arithmetic, never overflowing 2^63 (h ≤ 63, i < dim,
    * so the pre-mod product is < 2^57). tables=16, bitsPerTable=4,
    * matching Similarity's defaults. */
  private[graft] def sqlLshBucketCte: String = {
    val tables = Similarity.LshTables
    val bits = Similarity.LshBitsPerTable
    val sel = (0 until tables).map { t =>
      val bucket = (0 until bits).map { b =>
        val h = t * bits + b
        val w = s"((($h * 1000003 + i) * 1103515245 + 12345) % 2147483648 - 1073741824)"
        val proj = s"list_sum(list_transform(range(0, len(v)), i -> v[i+1] * $w))"
        s"(CASE WHEN $proj >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, CAST($bucket AS BIGINT) AS bucket FROM n"
    }.mkString(" UNION ALL ")
    s"bk AS ($sel)"
  }

  /** One unrolled Lloyd's iteration for the trained-IVF oracle: assign
    * every train vector to its max-cosine centroid in `prev` (NaN-first
    * DESC ordering + smaller-cent_id tiebreak — the same total order as
    * Spark's max_by(cent_id, struct(c_cos, -cent_id))), then recompute
    * each centroid as the element-wise mean of its members: exact BIGINT
    * element sums via list_reduce (order-insensitive), ONE double
    * division per element (identical operands to Spark's avg-over-longs,
    * whose running double sum of ≤4096 quantized ints is exact), then
    * round half-away-from-zero back to BIGINT. Zero-norm means drop —
    * trainCentroids' degenerate-centroid filter. Emits CTEs a<i>, g<i>,
    * s<i>, c<i>. */
  private[graft] def sqlIvfIter(i: Int, prev: String): String =
    s"a$i AS (SELECT t.vec_id, c.cent_id, " +
      "CAST(list_sum(list_transform(list_zip(t.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
      "/ (sqrt(CAST(t.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
      s"FROM tr t, $prev c), " +
      s"g$i AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn " +
      s"FROM a$i) WHERE rn = 1), " +
      s"s$i AS (SELECT g.cent_id, COUNT(*) AS cnt, " +
      "list_reduce(list(t.v), (x,y) -> list_transform(list_zip(x,y), p -> p[1]+p[2])) AS sv " +
      s"FROM g$i g JOIN tr t USING (vec_id) GROUP BY g.cent_id), " +
      s"c$i AS (SELECT * FROM (SELECT cent_id, cv, " +
      "list_sum(list_transform(cv, x -> x*x)) AS cnrm FROM " +
      "(SELECT cent_id, list_transform(sv, s -> CAST(round(CAST(s AS DOUBLE)/cnt) AS BIGINT)) AS cv " +
      s"FROM s$i)) WHERE cnrm > 0)"

  /** Trained-IVF front CTEs (quant, md5-capped train sample, seeds, two
    * unrolled Lloyd's iterations, full-corpus assignment, nprobe = 4
    * probes for queries vec_id < 10) — shared by the trained-IVF oracle
    * and the IVF-PQ composite. */
  private[graft] lazy val sqlIvfFrontCtes: String = sqlIvfFrontCtesFrom("n")

  /** The trained-IVF front with the TRAINING relation parameterized
    * (`src` = "n" for whole-corpus training; a filtered subquery for
    * the base-trained upsert oracle — assignment/probes always run
    * over the full `n`). */
  private[graft] def sqlIvfFrontCtesFrom(src: String): String =
    s"$sqlQuantCte, " +
      s"tr AS (SELECT vec_id, v, nrm FROM $src " +
      "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4096), " +
      s"c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM $src " +
      "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
      sqlIvfIter(1, "c0") + ", " + sqlIvfIter(2, "c1") + ", " +
      "ac AS (SELECT n.vec_id, c.cent_id, " +
      "CAST(list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) " +
      "/ (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos " +
      "FROM n, c2 c), " +
      "asg AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac) " +
      "WHERE rn = 1), " +
      // pr rides along (round 16): the probe-curve oracle re-filters
      // the SAME ranked probes at pr <= 1/2/4; existing consumers
      // project it away
      "probes AS (SELECT q_id, cent_id, pr FROM (SELECT vec_id AS q_id, cent_id, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS pr " +
      "FROM ac WHERE vec_id < 10) WHERE pr <= 4)"

  /** Full trained-IVF oracle: the shared front, then the serve tail
    * proven by sim_ann_ivf_fixed — candidate lookup + exact top-10
    * rerank. */
  private[graft] lazy val sqlIvfTrained: String = sqlIvfTrainedFrom("n")

  /** Trained-IVF oracle with the training relation parameterized (see
    * [[sqlIvfFrontCtesFrom]]) — `sim_ann_index_upsert` trains on the
    * doc-id-ranged base only; serve tail unchanged. */
  private[graft] def sqlIvfTrainedFrom(src: String): String =
    "WITH " + sqlIvfFrontCtesFrom(src) + ", " +
      "cand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id FROM probes p " +
      "JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id != p.q_id), " +
      s"s AS (SELECT c.q_id, c.n_id, ${sqlCosFrag("q", "x")} AS cos " +
      "FROM cand c JOIN n q ON c.q_id = q.vec_id JOIN n x ON c.n_id = x.vec_id), " +
      "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
      "FROM s WHERE NOT isnan(cos)) " +
      "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 10 ORDER BY q_id, rank"

  /** The base-corpus training relation of the upsert key: vectors with
    * vec_id below 3·max/4 (the doc-id-ranged split the delta appends
    * after) — the // floor equals the engine's non-negative Long
    * division. */
  private[graft] val sqlIvfUpsertBase: String =
    "(SELECT vec_id, v, nrm FROM n " +
      "WHERE vec_id < (SELECT (3 * MAX(vec_id)) // 4 FROM n))"

  /** IVF-PQ composite oracle: the IVF front (coarse lists + probes) and
    * the PQ front (subspace slicing + codebook training) share the same
    * quant CTE; the serve tail encodes the corpus (pea/pcode), derives
    * the per-query ADC distance table as the query-gated slice of the
    * SAME encode relation, sums exact sub-distances per candidate and
    * ranks by (adc, n_id), then audits with true cosine. */
  private[graft] lazy val sqlIvfPq: String = {
    val m = Similarity.PqSubspaces
    val dim = 64
    val L = dim / m
    val k = Similarity.IvfPqCodes
    val iters = Similarity.PqIters
    val cap = Similarity.PqTrainCap
    val slices = (0 until m).map(s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub_id, " +
        s"v[${s * L + 1}:${s * L + L}] AS sv FROM nf").mkString(" UNION ALL ")
    val pqIterSql = (1 to iters).map(i =>
      sqlPqIter(i, if (i == 1) "cb0" else s"pc${i - 1}")).mkString(", ")
    val lastCb = if (iters == 0) "cb0" else s"pc$iters"
    "WITH " + sqlIvfFrontCtes + ", " +
      s"nf AS (SELECT vec_id, v FROM n WHERE len(v) = $dim), " +
      s"sub AS ($slices), " +
      "subn AS (SELECT vec_id, sub_id, sv, " +
      "list_sum(list_transform(sv, x -> x*x)) AS sn FROM sub), " +
      "trv AS (SELECT vec_id FROM nf " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $cap), " +
      "trs AS (SELECT s.* FROM subn s JOIN trv ON s.vec_id = trv.vec_id), " +
      "sdv AS (SELECT vec_id FROM nf " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k), " +
      "cb0 AS (SELECT s.sub_id, s.vec_id AS code, s.sv AS cv, s.sn AS cn " +
      "FROM subn s JOIN sdv ON s.vec_id = sdv.vec_id), " +
      pqIterSql + ", " +
      "pea AS (SELECT t.vec_id, t.sub_id, c.code, t.sn + c.cn - " +
      "2*list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) AS dist " +
      s"FROM subn t JOIN $lastCb c ON t.sub_id = c.sub_id), " +
      "pcode AS (SELECT vec_id, sub_id, code FROM (SELECT vec_id, sub_id, code, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id ORDER BY dist, code) AS rn " +
      "FROM pea) WHERE rn = 1), " +
      "dt AS (SELECT vec_id AS q_id, sub_id, code, dist AS sd FROM pea " +
      "WHERE vec_id < 10), " +
      "cand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id FROM probes p " +
      "JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id != p.q_id), " +
      "adc AS (SELECT c.q_id, c.n_id, CAST(SUM(dt.sd) AS BIGINT) AS adc " +
      "FROM cand c JOIN pcode pc ON c.n_id = pc.vec_id " +
      "JOIN dt ON dt.q_id = c.q_id AND dt.sub_id = pc.sub_id AND dt.code = pc.code " +
      "GROUP BY 1, 2), " +
      s"sl AS (SELECT q_id, n_id, adc FROM (SELECT *, " +
      "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS srk FROM adc) " +
      s"WHERE srk <= ${Similarity.IvfPqRerank}), " +
      s"rr AS (SELECT sl.q_id, sl.n_id, sl.adc, ${sqlCosFrag("q", "x")} AS cos " +
      "FROM sl JOIN n q ON sl.q_id = q.vec_id JOIN n x ON sl.n_id = x.vec_id), " +
      "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
      "FROM rr WHERE NOT isnan(cos)) " +
      "SELECT q_id, rank, n_id, adc, cos FROM rk WHERE rank <= 10 " +
      "ORDER BY q_id, rank"
  }

  /** RESIDUAL IVF-PQ oracle (round 12): the sqlIvfPq chain with the
    * encode input swapped to per-vector residuals v − c(v) (exact
    * integer list subtraction past the assignment), codebooks trained
    * on residuals, and the ADC distance table per (query, PROBED list)
    * — the query's residual differs per list, so dt carries cent_id
    * and the ADC join keys on (q_id, cent_id, sub_id, code) with the
    * candidate's own list from the assignment. */
  private[graft] lazy val sqlIvfPqResidual: String = {
    val m = Similarity.PqSubspaces
    val dim = 64
    val L = dim / m
    val k = Similarity.IvfPqCodes
    val iters = Similarity.PqIters
    val cap = Similarity.PqTrainCap
    val slices = (0 until m).map(s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub_id, " +
        s"v[${s * L + 1}:${s * L + L}] AS sv FROM resv").mkString(" UNION ALL ")
    val qslices = (0 until m).map(s =>
      s"SELECT q_id, cent_id, CAST($s AS BIGINT) AS sub_id, " +
        s"rv[${s * L + 1}:${s * L + L}] AS sv FROM qres").mkString(" UNION ALL ")
    val pqIterSql = (1 to iters).map(i =>
      sqlPqIter(i, if (i == 1) "cb0" else s"pc${i - 1}")).mkString(", ")
    val lastCb = if (iters == 0) "cb0" else s"pc$iters"
    "WITH " + sqlIvfFrontCtes + ", " +
      s"nf AS (SELECT vec_id, v FROM n WHERE len(v) = $dim), " +
      // corpus residuals against the ASSIGNED centroid
      "resv AS (SELECT a.vec_id, a.cent_id, " +
      "list_transform(list_zip(nf.v, c.cv), p -> p[1] - p[2]) AS v " +
      "FROM asg a JOIN nf ON nf.vec_id = a.vec_id " +
      "JOIN c2 c ON c.cent_id = a.cent_id), " +
      s"sub AS ($slices), " +
      "subn AS (SELECT vec_id, sub_id, sv, " +
      "list_sum(list_transform(sv, x -> x*x)) AS sn FROM sub), " +
      "trv AS (SELECT vec_id FROM nf " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $cap), " +
      "trs AS (SELECT s.* FROM subn s JOIN trv ON s.vec_id = trv.vec_id), " +
      "sdv AS (SELECT vec_id FROM nf " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k), " +
      "cb0 AS (SELECT s.sub_id, s.vec_id AS code, s.sv AS cv, s.sn AS cn " +
      "FROM subn s JOIN sdv ON s.vec_id = sdv.vec_id), " +
      pqIterSql + ", " +
      "pea AS (SELECT t.vec_id, t.sub_id, c.code, t.sn + c.cn - " +
      "2*list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) AS dist " +
      s"FROM subn t JOIN $lastCb c ON t.sub_id = c.sub_id), " +
      "pcode AS (SELECT vec_id, sub_id, code FROM (SELECT vec_id, sub_id, code, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id ORDER BY dist, code) AS rn " +
      "FROM pea) WHERE rn = 1), " +
      // per-(query, probed list) residual distance table
      "qres AS (SELECT p.q_id, p.cent_id, " +
      "list_transform(list_zip(nf.v, c.cv), x -> x[1] - x[2]) AS rv " +
      "FROM probes p JOIN nf ON nf.vec_id = p.q_id " +
      "JOIN c2 c ON c.cent_id = p.cent_id), " +
      s"qsub AS ($qslices), " +
      "qsubn AS (SELECT q_id, cent_id, sub_id, sv, " +
      "list_sum(list_transform(sv, x -> x*x)) AS sn FROM qsub), " +
      "dt AS (SELECT q.q_id, q.cent_id, q.sub_id, c.code, q.sn + c.cn - " +
      "2*list_sum(list_transform(list_zip(q.sv, c.cv), p -> p[1]*p[2])) AS sd " +
      s"FROM qsubn q JOIN $lastCb c ON c.sub_id = q.sub_id), " +
      "cand AS (SELECT DISTINCT p.q_id, p.cent_id, a.vec_id AS n_id " +
      "FROM probes p JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id != p.q_id), " +
      "adc AS (SELECT c.q_id, c.n_id, CAST(SUM(dt.sd) AS BIGINT) AS adc " +
      "FROM cand c JOIN pcode pc ON c.n_id = pc.vec_id " +
      "JOIN dt ON dt.q_id = c.q_id AND dt.cent_id = c.cent_id " +
      "AND dt.sub_id = pc.sub_id AND dt.code = pc.code " +
      "GROUP BY 1, 2), " +
      s"sl AS (SELECT q_id, n_id, adc FROM (SELECT *, " +
      "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS srk FROM adc) " +
      s"WHERE srk <= ${Similarity.IvfPqRerank}), " +
      s"rr AS (SELECT sl.q_id, sl.n_id, sl.adc, ${sqlCosFrag("q", "x")} AS cos " +
      "FROM sl JOIN n q ON sl.q_id = q.vec_id JOIN n x ON sl.n_id = x.vec_id), " +
      "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank " +
      "FROM rr WHERE NOT isnan(cos)) " +
      "SELECT q_id, rank, n_id, adc, cos FROM rk WHERE rank <= 10 " +
      "ORDER BY q_id, rank"
  }

  /** PCA-2 oracle (round 12): the embed_top_eigvec chain twice — the
    * second chain deflates each rescaled multiply against x₁ in the
    * integer-exact multiplied-through form (z·s₁ = y·s₁ − ⟨y,x₁⟩·x₁)
    * before its own rescale; `//` ≡ `div` on the nonnegative
    * abs/greatest domain. Generated per iteration count so the engine
    * parameter and the oracle can never unroll differently. */
  private[graft] def sqlPca2(dim: Int = 64, iters: Int = 2,
                             rescale: Long = 256L): String = {
    def scaleCte(src: String, out: String): String =
      s"m_$out AS (SELECT MAX(ABS(y)) AS m FROM $src), " +
        s"$out AS (SELECT $src.i AS j, CAST((CASE WHEN y < 0 THEN -1 " +
        "WHEN y > 0 THEN 1 ELSE 0 END) * " +
        s"((ABS(y) * $rescale) // GREATEST(m, 1)) AS BIGINT) AS x " +
        s"FROM $src, m_$out)"
    def mulCte(x: String, out: String): String =
      s"$out AS (SELECT g.i, CAST(SUM(g.gij * $x.x) AS BIGINT) AS y " +
        s"FROM g JOIN $x ON g.j = $x.j GROUP BY 1)"
    val chain1 = (1 to iters).map { t =>
      val prev = if (t == 1) "a0" else s"xa${t - 1}"
      mulCte(prev, s"ya$t") + ", " + scaleCte(s"ya$t", s"xa$t")
    }.mkString(", ")
    val x1 = s"xa$iters"
    val chain2 = (1 to iters).map { t =>
      val prev = if (t == 1) "b0" else s"xb${t - 1}"
      mulCte(prev, s"yb$t") + ", " + scaleCte(s"yb$t", s"pb$t") + ", " +
        s"d$t AS (SELECT CAST(SUM(pb$t.x * $x1.x) AS BIGINT) AS d " +
        s"FROM pb$t JOIN $x1 ON pb$t.j = $x1.j), " +
        s"zb$t AS (SELECT pb$t.j AS i, " +
        s"CAST(pb$t.x * s1.s1 - d$t.d * $x1.x AS BIGINT) AS y " +
        s"FROM pb$t JOIN $x1 ON pb$t.j = $x1.j, s1, d$t), " +
        scaleCte(s"zb$t", s"xb$t")
    }.mkString(", ")
    val x2 = s"xb$iters"
    def rqCte(x: String, out: String): String =
      s"num_$out AS (SELECT CAST(SUM(CAST(g.gij AS HUGEINT) * xi.x * xj.x) AS DOUBLE) AS num " +
        s"FROM g JOIN $x xi ON g.i = xi.j JOIN $x xj ON g.j = xj.j), " +
        s"den_$out AS (SELECT CAST(SUM(x * x) AS BIGINT) AS den FROM $x), " +
        s"$out AS (SELECT num / CAST(den AS DOUBLE) AS v FROM num_$out, den_$out)"
    s"WITH $sqlQuantCte, " +
      s"nf AS (SELECT vec_id, v FROM n WHERE len(v) = $dim), " +
      "g AS (SELECT ii.i AS i, jj.j AS j, " +
      "CAST(SUM(v[ii.i + 1] * v[jj.j + 1]) AS BIGINT) AS gij " +
      s"FROM nf, range(0, $dim) ii(i), range(0, $dim) jj(j) GROUP BY 1, 2), " +
      s"a0 AS (SELECT unnest(range(0, $dim)) AS j, CAST(1 AS BIGINT) AS x), " +
      s"b0 AS (SELECT unnest(range(0, $dim)) AS j, CAST(1 AS BIGINT) AS x), " +
      chain1 + ", " +
      s"s1 AS (SELECT CAST(SUM(x * x) AS BIGINT) AS s1 FROM $x1), " +
      chain2 + ", " +
      rqCte(x1, "rq1") + ", " + rqCte(x2, "rq2") + ", " +
      s"ortho AS (SELECT CAST(SUM($x1.x * $x2.x) AS BIGINT) AS ortho_dot " +
      s"FROM $x1 JOIN $x2 ON $x1.j = $x2.j) " +
      s"SELECT CAST($x1.j AS BIGINT) AS comp, $x1.x AS x1_val, " +
      s"$x2.x AS x2_val, rq1.v AS rayleigh1, rq2.v AS rayleigh2, " +
      s"ortho.ortho_dot FROM $x1 JOIN $x2 ON $x1.j = $x2.j, rq1, rq2, ortho " +
      "ORDER BY comp"
  }

  /** One unrolled Lloyd's round for the PQ oracle, keyed by (sub_id,
    * code): assign the train sub-vectors to their min-(dist, code)
    * codebook entry — squared L2 in pure BIGINT (‖a‖²+‖c‖²−2⟨a,c⟩, the
    * same algebra the operator's codegen dot computes) — then recompute
    * each code as the element-wise mean of its members (exact BIGINT
    * sums via list_reduce, one double division, round half-away — the
    * sqlIvfIter contract). Emits pa<i>, pg<i>, ps<i>, pc<i>. */
  private[graft] def sqlPqIter(i: Int, prev: String): String =
    s"pa$i AS (SELECT t.vec_id, t.sub_id, c.code, t.sn + c.cn - " +
      "2*list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) AS dist " +
      s"FROM trs t JOIN $prev c ON t.sub_id = c.sub_id), " +
      s"pg$i AS (SELECT vec_id, sub_id, code FROM (SELECT vec_id, sub_id, code, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id ORDER BY dist, code) AS rn " +
      s"FROM pa$i) WHERE rn = 1), " +
      s"ps$i AS (SELECT g.sub_id, g.code, COUNT(*) AS cnt, " +
      "list_reduce(list(t.sv), (x,y) -> list_transform(list_zip(x,y), p -> p[1]+p[2])) AS sv " +
      s"FROM pg$i g JOIN trs t ON g.vec_id = t.vec_id AND g.sub_id = t.sub_id " +
      "GROUP BY g.sub_id, g.code), " +
      s"pc$i AS (SELECT sub_id, code, cv, " +
      "list_sum(list_transform(cv, x -> x*x)) AS cn FROM " +
      "(SELECT sub_id, code, list_transform(sv, s -> " +
      s"CAST(round(CAST(s AS DOUBLE)/cnt) AS BIGINT)) AS cv FROM ps$i))"

  /** Full PQ oracle (embed_pq): subspace slicing, md5-capped train
    * sample, seed codebook = the kCodes smallest-(md5, vec_id) vectors
    * sliced per subspace (code label = seed vec_id), the unrolled
    * Lloyd's rounds, then the full-corpus encode + per-code report.
    * Every parameter reads the SAME Similarity.Pq* constants as the
    * operator — desync is a compile error, not a silent drift. */
  private[graft] lazy val sqlPqStats: String = {
    val m = Similarity.PqSubspaces
    val dim = 64
    val L = dim / m
    val k = Similarity.PqCodes
    val iters = Similarity.PqIters
    val cap = Similarity.PqTrainCap
    val slices = (0 until m).map(s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub_id, " +
        s"v[${s * L + 1}:${s * L + L}] AS sv FROM nf").mkString(" UNION ALL ")
    val iterSql = (1 to iters).map(i =>
      sqlPqIter(i, if (i == 1) "cb0" else s"pc${i - 1}")).mkString(", ")
    val lastCb = if (iters == 0) "cb0" else s"pc$iters"
    s"WITH $sqlQuantCte, " +
      s"nf AS (SELECT vec_id, v FROM n WHERE len(v) = $dim), " +
      s"sub AS ($slices), " +
      "subn AS (SELECT vec_id, sub_id, sv, " +
      "list_sum(list_transform(sv, x -> x*x)) AS sn FROM sub), " +
      "trv AS (SELECT vec_id FROM nf " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $cap), " +
      "trs AS (SELECT s.* FROM subn s JOIN trv ON s.vec_id = trv.vec_id), " +
      "sdv AS (SELECT vec_id FROM nf " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k), " +
      "cb0 AS (SELECT s.sub_id, s.vec_id AS code, s.sv AS cv, s.sn AS cn " +
      "FROM subn s JOIN sdv ON s.vec_id = sdv.vec_id), " +
      iterSql + ", " +
      "ea AS (SELECT t.vec_id, t.sub_id, c.code, t.sn + c.cn - " +
      "2*list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) AS dist " +
      s"FROM subn t JOIN $lastCb c ON t.sub_id = c.sub_id), " +
      "eg AS (SELECT sub_id, code, dist FROM (SELECT sub_id, code, dist, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id ORDER BY dist, code) AS rn " +
      "FROM ea) WHERE rn = 1), " +
      "rep AS (SELECT sub_id, code, COUNT(*) AS nv, SUM(dist) AS te " +
      "FROM eg GROUP BY sub_id, code) " +
      s"SELECT c.sub_id, c.code, CAST(COALESCE(rep.nv, 0) AS BIGINT) AS n_vectors, " +
      "CAST(COALESCE(rep.te, 0) AS BIGINT) AS total_sq_err " +
      s"FROM $lastCb c LEFT JOIN rep ON c.sub_id = rep.sub_id AND c.code = rep.code " +
      "ORDER BY c.sub_id, c.code"
  }

  /** JL projection oracle: the SAME 16×64 integer weight table the
    * operator builds (Similarity.rpWeight) embedded as list literals —
    * 16 dot products per vector, sum of squares, one ratio division. */
  private[graft] lazy val sqlRandomProjection: String = {
    val projCols = (0 until 16).map { j =>
      val w = (0 until 64).map(i => Similarity.rpWeight(j, i))
        .mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(list_zip(v, $w), p -> p[1]*p[2])) AS BIGINT) AS p$j"
    }.mkString(", ")
    val sq = (0 until 16).map(j => s"p$j*p$j").mkString(" + ")
    s"WITH $sqlQuantCte, " +
      "nf AS (SELECT vec_id, v, nrm FROM n WHERE len(v) = 64), " +
      s"pr AS (SELECT vec_id, nrm, $projCols FROM nf) " +
      "SELECT vec_id, CAST(nrm AS BIGINT) AS orig_nrm, " +
      s"CAST($sq AS BIGINT) AS proj_nrm, " +
      s"CAST($sq AS DOUBLE) / nrm AS ratio " +
      "FROM pr ORDER BY vec_id"
  }

  /** Shared exact-cosine fragment for the LSH oracles (mirrors
    * Similarity.cosine on quantized ints — bit-identical doubles). */
  private[graft] def sqlCosFrag(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a.v, $b.v), p -> p[1]*p[2])) AS DOUBLE) " +
      s"/ (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))"

  /** Language-ID oracle: same marker lists, same alphabetical-first
    * tie-break as TextAnalysis.langId. */
  private[graft] def sqlLangId: String = {
    val markers = graft.operators.TextAnalysis.LangMarkers
    val scores = markers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text,' '), t -> t IN ($lst))) AS s_$lang"
    }.mkString(", ")
    val langs = markers.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val pred = langs.map(l =>
      s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    s"WITH sc AS (SELECT doc_id, $scores FROM documents) " +
      s"SELECT doc_id, CAST($best AS BIGINT) AS best_score, " +
      s"CASE $pred ELSE 'unknown' END AS pred_lang FROM sc ORDER BY doc_id"
  }

  /** Confusion-matrix replay: the sqlLangId prediction front joined to
    * the corpus's `lang` ground truth, per-pair counts + integer-ppm
    * recall shares. */
  private[graft] def sqlLangIdConfusion: String = {
    val markers = graft.operators.TextAnalysis.LangMarkers
    val scores = markers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text,' '), t -> t IN ($lst))) AS s_$lang"
    }.mkString(", ")
    val langs = markers.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val pred = langs.map(l =>
      s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    s"WITH sc AS (SELECT doc_id, $scores FROM documents), " +
      s"p AS (SELECT doc_id, CASE $pred ELSE 'unknown' END AS pred_lang FROM sc), " +
      "t AS (SELECT doc_id, COALESCE(lang, '__none__') AS true_lang FROM documents), " +
      "cm AS (SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs " +
      "FROM t JOIN p USING (doc_id) GROUP BY 1, 2), " +
      "tt AS (SELECT true_lang, SUM(n_docs) AS n_true FROM cm GROUP BY 1) " +
      "SELECT cm.true_lang, cm.pred_lang, cm.n_docs, " +
      "CAST(cm.n_docs * 1000000 // tt.n_true AS BIGINT) AS share_ppm " +
      "FROM cm JOIN tt USING (true_lang) ORDER BY 1, 2"
  }

  /** Margin-audit replay: the same scores/tie-break plus the sorted
    * score list for the runner-up — generated from the SAME
    * TextAnalysis.LangMarkers the detector uses. */
  private[graft] def sqlLangIdMargin: String = {
    val markers = graft.operators.TextAnalysis.LangMarkers
    val scores = markers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text,' '), t -> t IN ($lst))) AS s_$lang"
    }.mkString(", ")
    val langs = markers.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val pred = langs.map(l =>
      s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    val lst = langs.map(l => s"s_$l").mkString("[", ", ", "]")
    s"WITH sc AS (SELECT doc_id, $scores FROM documents), " +
      s"m AS (SELECT CASE $pred ELSE 'unknown' END AS pred_lang, " +
      s"CAST($best AS BIGINT) AS best, " +
      s"CAST($best - list_sort($lst)[${langs.length - 1}] AS BIGINT) AS margin " +
      "FROM sc) " +
      "SELECT pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN best > 0 AND margin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied, " +
      "CAST(SUM(CASE WHEN margin >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_strict, " +
      "CAST(SUM(margin) AS BIGINT) AS sum_margin " +
      "FROM m GROUP BY 1 ORDER BY 1"
  }
}
