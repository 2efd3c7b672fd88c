package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** B2 dedup_fuzzy family — near-duplicate text detection at
  * training-data-pipeline scale: exact n-gram Jaccard with shared-shingle
  * blocking (oracle-checkable), MinHash-LSH banding (the 100 TB scale
  * path) and SimHash fingerprinting.
  *
  * Blocking math: a pair with Jaccard ≥ t > 0 shares at least one shingle,
  * so shared-shingle blocking has recall 1 — the exact-Jaccard output is
  * deterministic and DuckDB-replicable. MinHash-LSH (b bands × r rows)
  * trades that guarantee for near-linear scale; its candidates are
  * verified with the same exact Jaccard, so precision stays 1 and the
  * only approximation is banding recall (≈1-(1-t^r)^b, >0.9999 for the
  * J≥0.9 near-dup regime with b=16, r=4).
  */
/** Caller-scoped lifecycle for the shingle tables the pair-finders reuse
  * across branches. The finders return LAZY DataFrames, so they cannot
  * unpersist what they cache — only the caller knows when the result has
  * been materialized. [[CacheScope.off]] (the default) never persists:
  * a library consumer calling the finders in a loop can leak nothing.
  * A harness that materializes each query exactly once opts in with
  * `CacheScope()` and releases after each action. */
final class CacheScope private (enabled: Boolean) extends AutoCloseable {
  private val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Persist `df` for the scope's lifetime (no-op when disabled). */
  private[graft] def track(df: DataFrame): DataFrame =
    if (!enabled) df
    else synchronized {
      persisted += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }

  /** Materialize `df` NOW and replace its lineage with the computed
    * blocks (eager localCheckpoint) when enabled. For relations
    * consumed under SELF-REFERENCING plans (iterative folds): Spark's
    * DeduplicateRelations re-aliases one side of a self-join, and the
    * re-aliased subtree no longer matches a persisted plan in the
    * cache manager — it silently re-derives. A LogicalRDD survives any
    * re-aliasing, so every occurrence reads the computed blocks. The
    * blocks live until context end (the session-memo lifecycle —
    * release() cannot reclaim a checkpoint); disabled → identity,
    * fully lazy. */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (!enabled) df else df.localCheckpoint()

  def release(): Unit = synchronized {
    persisted.foreach(_.unpersist(blocking = false)); persisted.clear()
  }

  override def close(): Unit = release()
}

object CacheScope {
  /** Library default: never persists. Branch reuse then leans on
    * Catalyst's ReuseExchange (shared shuffle output) instead of an
    * in-memory table — correct, just recomputes narrow stages. */
  val off: CacheScope = new CacheScope(false)

  def apply(): CacheScope = new CacheScope(true)
}

/** What an LSH candidate-pair enumeration does when a blocking bucket
  * exceeds its cap. A bucket of b members contributes b²/2 candidate
  * pairs, so an uncapped hot bucket — d exact copies of one document, or
  * a blocking key that degenerates at corpus scale — is silently
  * quadratic. Neither policy allows that:
  *  - [[BucketOverflow.Fail]] (the default) aborts the job with the
  *    offending bucket key in the message — the analogue of
  *    [[Similarity.AllPairsRowLimit]]'s hard gate. The fix is upstream:
  *    exact-dedup first, or a wider blocking key.
  *  - [[BucketOverflow.Drop]] skips over-cap buckets (bounded work,
  *    documented recall loss) — the analogue of [[Dedup.shingleTable]]'s
  *    df-cap, for pipelines that prefer partial recall over failure. */
sealed trait BucketOverflow
object BucketOverflow {
  case object Fail extends BucketOverflow
  case object Drop extends BucketOverflow
}

object Dedup {

  /** Distinct word n-gram shingles of single-space-separated text — a
    * native expression (graft.functions.WordShingles); the HOF-composed
    * form was interpreted and dominated the shingle pipeline. Fewer than
    * n tokens → empty set. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.VectorFunctions.wordShingles(text, n)

  /** (doc_id, shingle) pairs, distinct per doc — the blocking relation.
    * `maxDf` drops shingles appearing in more than that many docs: at
    * 100 TB the df-cap is what keeps the per-shingle self-join from going
    * quadratic on stop-shingles. None = exact recall (the oracle form).
    * The df filter uses a constant-size COUNT buffer per shingle (never
    * a doc list), so the cap pass itself is hot-key-safe; the join back
    * is a plain equi-join — AQE broadcasts it when the surviving-shingle
    * set is small, shuffles it when it isn't (at web scale it isn't). */
  def shingleTable(docs: DataFrame, n: Int = 3,
                   maxDf: Option[Int] = None): DataFrame = {
    val sh = docs.select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
    maxDf match {
      case None => sh
      case Some(cap) =>
        val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        sh.join(df.filter(col("df") <= cap), "shingle")
          .select(col("doc_id"), col("shingle"))
    }
  }

  /** SHINGLE DOCUMENT-FREQUENCY HISTOGRAM (round 13) — the
    * distribution that SIZES the dedup family's df-caps: every
    * bounded-bucket argument in this file ("drop shingles in more than
    * `maxDf` docs and the self-join cannot go quadratic") is
    * provisioned off exactly this histogram, so the engine measures it
    * instead of asserting it. Per log₂ df bucket (the bit-length
    * surrogate — df spans decades): shingle count, df min/max, total
    * occurrences, and the occurrences carried by OVER-CAP shingles in
    * that bucket — Σ occ_over_cap across buckets is precisely the mass
    * the `maxDf` filter drops, i.e. the recall the cap trades for
    * boundedness, now a measured number. One shuffle (the df count),
    * then a ≤64-row rollup.
    *
    * Output: (df_bucket, n_shingles, df_min, df_max, occurrences,
    * occ_over_cap), ordered. */
  def dfHistogram(docs: DataFrame, n: Int = 3, cap: Int = 100): DataFrame =
    shingleTable(docs, n, None)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .groupBy(expr("length(bin(df))").as("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"),
        min(col("df")).as("df_min"), max(col("df")).as("df_max"),
        sum(col("df")).as("occurrences"),
        sum(when(col("df") > cap, col("df")).otherwise(0L))
          .as("occ_over_cap"))
      .orderBy(col("df_bucket"))

  /** Exact n-gram Jaccard near-dup pairs via shared-shingle blocking.
    * Output: (doc_a, doc_b, n_common, n_union, jaccard) for jaccard ≥
    * threshold, doc_a < doc_b.
    *
    * Two physical shapes, same exact result:
    *  - capped (`maxDf = Some(cap)`): ONE shuffle groups (doc, shingle)
    *    into per-shingle buckets, drops buckets over the df cap, and
    *    enumerates each bucket's doc pairs in place (≤ cap²/2 per
    *    bucket, narrow double-explode) — the 100 TB path: shuffle volume
    *    is the shingle table once, bucket memory is cap-bounded, and no
    *    hot-key self-join blowup is possible by construction.
    *  - uncapped (None): shingle self-join, recall 1 — the oracle toy;
    *    quadratic on stop-shingles, so not for real corpora.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                        n: Int = 3, maxDf: Option[Int] = None,
                        scope: CacheScope = CacheScope.off): DataFrame =
    maxDf match {
      case Some(cap) =>
        // ONE shuffle does df-cap AND bucketing: boundedCollect stops
        // accumulating at cap+1 elements, so a hot stop-shingle's buffer
        // (and its map-side partials) stay O(cap) instead of O(df), and
        // the overflow marker is dropped by the size filter. Groups
        // within the cap are collected exactly — identical result to the
        // two-pass count-then-collect form, minus its second shuffle.
        val raw = shingleTable(docs, n, None)
        val buckets = scope.track(raw
          .groupBy(col("shingle"))
          .agg(graft.functions.BoundedAgg.boundedCollect(cap)(col("doc_id"))
            .as("ds"))
          .filter(size(col("ds")) <= cap))
        // sizes over the CAPPED relation (mirrors the oracle's capped CTE)
        val sizes = buckets.select(explode(col("ds")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        // in-bucket pair enumeration, a < b (order within ds irrelevant)
        val inter = buckets
          .select(explode(col("ds")).as("doc_a"), col("ds"))
          .select(col("doc_a"), explode(col("ds")).as("doc_b"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_common"))
        jaccardVerify(inter, sizes, threshold)
      case None =>
        // consumed 3× (sizes + both join sides): an enabled scope caches
        // so the shingle expression runs once
        val sh = scope.track(shingleTable(docs, n, None))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val a = sh.as("a"); val b = sh.as("b")
        val inter = a.join(b,
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_common"))
        jaccardVerify(inter, sizes, threshold)
    }

  /** Shared exact-Jaccard verification tail: attach per-doc shingle-set
    * sizes to (doc_a, doc_b, n_common) intersection counts, compute
    * jaccard, threshold, deterministic order. The sizes table is O(docs)
    * rows — NOT broadcast-hinted (at corpus scale it cannot be); plain
    * equi-joins let AQE broadcast when it is actually small and shuffle
    * when it isn't. */
  private def jaccardVerify(inter: DataFrame, sizes: DataFrame,
                            threshold: Double): DataFrame = {
    val jac = col("n_common").cast("double") /
      (col("sa.sz") + col("sb.sz") - col("n_common"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("sa.sz") + col("sb.sz") - col("n_common")).as("n_union"),
        jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DEDUP THRESHOLD SENSITIVITY CURVE (round 16) — how the near-dup
    * gate's yield moves with the Jaccard threshold: for each candidate
    * threshold ≥ the pair relation's base 0.5, the surviving pair
    * count, the duplicate-document count (distinct doc_b — the
    * keep-smaller-id convention at the pair grain) and the removal
    * rate in ppm of the corpus — the sizing table an operator reads
    * BEFORE committing a threshold to a 100 TB dedup pass (every
    * downstream `threshold = 0.5` constant in this file is provisioned
    * off exactly this curve). Threshold comparison is EXACT-RATIONAL:
    * jaccard ≥ t/1000 ⟺ n_common·1000 ≥ t·n_union in BIGINT — a
    * double compare against 0.6/0.7/… misclassifies ratios inside one
    * ulp of the literal; the integer form cannot. Rides the SHARED
    * memoized pair relation (already ≥ 0.5, so the curve is complete
    * for every listed threshold); one bounded ≤5× fan-out of the pair
    * relation, all 5 rows STRUCTURAL from the grid.
    *
    * Output: (thresh_milli, n_pairs, n_dup_docs, dup_ppm), ordered. */
  def thresholdCurve(docs: DataFrame, pairs: DataFrame,
                     thresholds: Seq[Int] = Seq(500, 600, 700, 800, 900))
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(thresholds.nonEmpty && thresholds.forall(_ >= 500),
      s"curve thresholds must sit at or above the pair relation's " +
        s"base 0.5: $thresholds")
    val grid = thresholds.toDF("thresh_milli")
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val stats = pairs
      .select(col("doc_b"), col("n_common"), col("n_union"))
      .crossJoin(broadcast(grid))
      .filter(col("n_common") * 1000L >= col("thresh_milli") * col("n_union"))
      .groupBy(col("thresh_milli"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_dup_docs"))
    grid.join(broadcast(stats), Seq("thresh_milli"), "left")
      .crossJoin(broadcast(total))
      .select(col("thresh_milli").cast("long").as("thresh_milli"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        expr("CAST((coalesce(n_dup_docs, 0L) * 1000000) div " +
          "nullif(n_docs, 0L) AS BIGINT)").as("dup_ppm"))
      .orderBy(col("thresh_milli"))
  }

  /** Near-duplicate CLUSTERS — connected components over the
    * [[ngramJaccardPairs]] graph, the step that turns a PAIR relation
    * into keep-one-per-group: every doc is labeled with the smallest
    * doc_id transitively reachable through near-dup pairs
    * (`cluster_id`); the canonical survivor rule is `is_keeper =
    * (cluster_id == doc_id)`. Pairs alone can't express this — near-dup
    * similarity is not transitive, so group membership needs the
    * closure, not the edge list.
    *
    * Algorithm: iterative min-label propagation. Labels start as each
    * doc's own id; each round every node takes the min of its own and
    * its neighbors' labels — one equi-join plus one aggregation per
    * round, converging in ≤ component-diameter rounds. The label frame
    * is localCheckpoint'ed per round (constant-depth plan, no lineage
    * growth) and the edge relation is persisted for the loop's lifetime
    * (released before returning — the returned frame's lineage is
    * truncated, so it never recomputes the pairs). Convergence is
    * detected by the label-sum fixpoint: labels only ever decrease, so
    * an unchanged (exact, decimal) sum means no label moved. Thresholded
    * near-dup graphs decompose into small dense components, so the loop
    * is short in practice; `maxIters` guards pathological chains and the
    * method THROWS rather than return a silently-partial clustering. At
    * extreme diameters, switch to the alternating large-star/small-star
    * formulation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — same join/aggregate building blocks.
    */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.5,
                      n: Int = 3, maxDf: Option[Int] = None,
                      maxIters: Int = 20,
                      scope: CacheScope = CacheScope.off): DataFrame =
    clustersFromPairs(docs,
      ngramJaccardPairs(docs, threshold, n, maxDf, scope), maxIters)

  /** [[nearDupClusters]]'s labeling tail over a PRECOMPUTED pair
    * relation (first two columns = the edge endpoints): connected
    * components, then every doc labeled with its component minimum and
    * the canonical keeper flag. Exposed so a pipeline that has already
    * materialized the pair relation — the deployed shape: compute pairs
    * once, feed every consumer (pair report, clustering, suppression)
    * from the same table — never recomputes the shingle/verify chain. */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame,
                        maxIters: Int = 20): DataFrame = {
    val labels = connectedComponents(pairs, maxIters)
    docs.select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("cluster_id") === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The converged (node, lbl) map over the pair graph's vertices only —
    * the loop behind [[nearDupClusters]], exposed package-side so
    * consumers that need just the SUPPRESSED set (lbl != node, a tiny
    * frame) can anti-join it without the corpus-wide labeling join. */
  private[operators] def nearDupLabels(docs: DataFrame, threshold: Double,
                                       n: Int, maxDf: Option[Int],
                                       maxIters: Int,
                                       scope: CacheScope): DataFrame =
    connectedComponents(
      ngramJaccardPairs(docs, threshold, n, maxDf, scope)
        .select(col("doc_a"), col("doc_b")),
      maxIters)

  /** Generic connected components over an undirected PAIR relation (any
    * two long id columns; a < b not required) — the graph primitive
    * behind [[nearDupClusters]], usable over ANY similarity pair output
    * (text n-gram, MinHash, SimHash, embedding LSH). Returns the
    * converged (node, lbl) map over the graph's VERTICES, lbl = smallest
    * id transitively reachable. Two physical paths, one result:
    * graphs within `smallGraphEdgeCap` edges (probed with a BOUNDED
    * collect — driver memory is capped regardless of graph size) are
    * solved with driver-side union-find in one job; larger graphs run
    * vertex-only min-label propagation with pointer jumping — see
    * [[nearDupClusters]] for the full algorithm and scale notes. */
  def connectedComponents(pairRelation: DataFrame,
                          maxIters: Int = 20,
                          smallGraphEdgeCap: Long = 100000L): DataFrame = {
    val Seq(ca, cb) = pairRelation.columns.toSeq.take(2).map(col)
    // normalize endpoints up front so BOTH physical paths see the same
    // graph: drop null-endpoint rows (a null joins nothing in the
    // distributed propagation, so it carries no edge — the probe must
    // not NPE on what the other path ignores), then cast to long (the
    // small-graph probe reads getLong, which would ClassCastException
    // on int-typed ids the distributed joins happily accept). A
    // non-numeric id FAILS LOUDLY in both SQL modes: ANSI cast throws
    // CAST_INVALID_INPUT; the assert_true catches the null a legacy
    // cast would otherwise silently produce (which would silently drop
    // the edge — a wrong clustering, not an error).
    val pairs = pairRelation
      .filter(ca.isNotNull && cb.isNotNull)
      .select(ca.cast("long").as("a"), cb.cast("long").as("b"))
      .filter(assert_true(col("a").isNotNull && col("b").isNotNull,
        lit("connectedComponents: node id not castable to long")).isNull)
    // SMALL-GRAPH FAST PATH: a thresholded near-dup graph is usually a
    // sliver of the corpus — often a few thousand edges even at large
    // SF — and the distributed loop's cost there is pure fixed overhead
    // (2 joins + an aggregate + a checkpoint job PER ROUND). Probe with
    // a bounded collect (≤ cap+1 rows in driver memory no matter how big
    // the graph is — the limit is the guard): within the cap, union-find
    // on the driver computes the exact same min-reachable-id labels in
    // microseconds and ONE job. Past the cap the probe's rows are
    // discarded and the distributed propagation runs as before — the
    // 100 TB path. Callers that KNOW the graph is web-scale skip the
    // probe (and its one extra evaluation of the pair subtree) with
    // smallGraphEdgeCap = 0.
    if (smallGraphEdgeCap > 0 && smallGraphEdgeCap < Int.MaxValue - 1) {
      val probe = pairs.limit(smallGraphEdgeCap.toInt + 1).collect()
      if (probe.length <= smallGraphEdgeCap) {
        val parent = new scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        probe.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          // union by min id: the root IS the component minimum, so the
          // final labels match the converged propagation bit-for-bit
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val labeled = parent.keysIterator.map(n => (n, find(n))).toSeq
        val spark = pairRelation.sparkSession
        import spark.implicits._
        return labeled.toDF("node", "lbl")
      }
    }
    // every propagation round joins this relation on src — cache it
    // already hash-partitioned by src (InMemoryRelation preserves
    // outputPartitioning), so each round's neighbor-min join re-shuffles
    // only the label frame, not the edges
    val edges = GraphLoops.bothWays(pairs).repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the loop runs over the pair graph's VERTICES only — in a real
      // corpus the near-dup graph is a sliver of the doc count, and only
      // its vertices can ever change labels; the singleton majority is
      // attached at the end with one left join (coalesce to self-label).
      // The label frame is |graph vertices| rows and AQE sizes its
      // per-round shuffle by bytes, so task overhead tracks the graph.
      //
      // The convergence probe is the exact decimal label sum (an empty
      // vertex set sums to null, which converges on the first step):
      // labels only ever decrease, so an unchanged sum across one step
      // means that step moved nothing — the fixpoint.
      val labelSum = GraphLoops.Probe("connectedComponents", l =>
        l.agg(sum(col("lbl").cast("decimal(38,0)"))).head().get(0))
      GraphLoops.supersteps(edges.select(col("src").as("node")).distinct()
          .withColumn("lbl", col("node")), maxIters, Some(labelSum)) { labels =>
        // neighbor-min WITHOUT a union (a union of the label frame with
        // a join over itself trips Catalyst's union constraint rewrite):
        // min over incoming neighbor labels, then least() with the own
        // label — identical result, plain join+aggregate plan. Every
        // vertex is a dst of some edge (edges are symmetric), so the
        // left join is total; coalesce guards regardless.
        val neighborMin = edges.join(labels, col("src") === col("node"))
          .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
        val stepped = labels.join(neighborMin, col("node") === col("dst"), "left")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        // pointer jump: follow the stepped label through the previous
        // step's label map. Every label is a vertex id of the same
        // component, so the hop stays in-component and only decreases —
        // compressing chain diameters to O(log d) rounds.
        stepped.as("x")
          .join(labels.select(col("node").as("jn"), col("lbl").as("jl")),
            col("x.lbl") === col("jn"), "left")
          .select(col("x.node").as("node"),
            coalesce(col("jl"), col("x.lbl")).as("lbl"))
      }.last
    } finally edges.unpersist(blocking = false)
  }

  /** Candidate pairs from a blocking relation, with hot buckets bounded
    * by construction: ONE shuffle groups ids per blocking key into an
    * O(maxBucket) buffer ([[graft.functions.BoundedAgg.boundedCollect]]
    * stops accumulating at cap+1, so even a corpus-sized bucket costs
    * cap+1 memory and shuffle), then enumerates each bucket's pairs in
    * place (≤ cap²/2 per bucket, narrow double-explode). Compared to the
    * banded self-join it replaces this is also one exchange cheaper, and
    * no hot-key blowup is possible regardless of input: an over-cap
    * bucket either fails the job with its key named ([[BucketOverflow
    * .Fail]]) or is skipped ([[BucketOverflow.Drop]]) — never silently
    * enumerated.
    *
    * `keyed` must carry a long id column `idCol` plus the blocking key
    * columns; output is the distinct (doc_a, doc_b) with doc_a < doc_b —
    * or, with `keepCounts`, (doc_a, doc_b, n_shared) where n_shared is
    * the number of blocking keys the pair co-occurred under (each key
    * counted once per pair; callers wanting counts must ensure the keyed
    * relation is distinct per (id, key), which explode-of-a-set inputs
    * are by construction). */
  private[operators] def boundedCandidatePairs(keyed: DataFrame, idCol: String,
                                               bucketCols: Seq[String],
                                               maxBucket: Int,
                                               overflow: BucketOverflow,
                                               opName: String,
                                               keepCounts: Boolean = false): DataFrame = {
    require(maxBucket > 1, s"maxBucket must exceed 1, got $maxBucket")
    val buckets = keyed
      .groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.BoundedAgg.boundedCollect(maxBucket)(col(idCol))
        .as("ds"))
    val guarded = overflow match {
      case BucketOverflow.Drop => buckets.filter(size(col("ds")) <= maxBucket)
      case BucketOverflow.Fail =>
        // assert_true returns null when the predicate holds, throws with
        // the message otherwise — a row-level gate that keeps the check
        // inside the (distributed, codegen'd) plan
        buckets.filter(assert_true(size(col("ds")) <= maxBucket,
          concat(lit(s"$opName: blocking bucket ("),
            concat_ws(", ", bucketCols.map(c => col(c).cast("string")): _*),
            lit(s") exceeded maxBucket=$maxBucket candidates — " +
              "exact-dedup the corpus first or widen the blocking key; " +
              "BucketOverflow.Drop skips over-cap buckets instead"))).isNull)
    }
    val pairs = guarded
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    if (keepCounts)
      pairs.groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    else pairs.distinct()
  }

  /** MinHash signatures: k min-hashes per doc, computed in one pass by
    * the native MinHashSig expression (md5-prefix base hash, k affine
    * permutations mod 2^31-1 — the engine-portable scheme, see
    * graft.functions.PortableHash) — no exploded (shingle × seed) rows,
    * no shuffle. Output: (doc_id, sig array<long>[k]); sig is NULL for
    * docs with no shingles (and for null text). */
  def minHashSignatures(docs: DataFrame, n: Int = 3,
                        numHashes: Int = 64): DataFrame =
    docs.select(col("doc_id"), minHashSig(col("text"), n, numHashes).as("sig"))

  /** The signature column of [[minHashSignatures]], for callers that
    * project it beside other columns. */
  def minHashSig(text: Column, n: Int = 3, numHashes: Int = 64): Column =
    graft.functions.VectorFunctions.minHashSig(shingles(text, n), numHashes)

  /** LSH band keys: bands of `rowsPerBand` signature entries, bucket =
    * the band's values joined with '_' — a plain decimal string, so the
    * DuckDB oracle forms the identical key (the previous murmur
    * `hash(slice)` bucket was engine-private). Null signatures (docs
    * with no shingles) produce no band rows: a corpus of empty docs must
    * not congregate in one null-key bucket and trip the hot-bucket
    * guard. Output: (doc_id, band, bucket string). */
  def lshBands(sigs: DataFrame, numHashes: Int = 64,
               rowsPerBand: Int = 4): DataFrame =
    bandRows(sigs, numHashes, rowsPerBand, Seq("doc_id"))

  /** [[lshBands]] with the `keep` columns of `sigs` carried onto every
    * band row by the same explode — a caller that needs the signature
    * or an event time beside each bucket never joins it back on.
    * Output: (keep..., band, bucket). */
  def bandRows(sigs: DataFrame, numHashes: Int, rowsPerBand: Int,
               keep: Seq[String]): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { bd =>
      struct(lit(bd).as("band"),
        array_join(slice(col("sig"), bd * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>"), "_").as("bucket"))
    }
    val kept = keep.map(col)
    sigs.filter(col("sig").isNotNull)
      .select(kept :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select(kept ++ Seq(col("bk.band").as("band"), col("bk.bucket").as("bucket")): _*)
  }

  /** BAND-OCCUPANCY AUDIT (round 12) — the diagnostic that SIZES every
    * LSH deployment (the graph family's degree histogram, applied to
    * banding): per band, bucket count, doc membership, the hottest
    * bucket, multi-doc bucket count and the implied candidate-pair
    * mass Σ sz·(sz−1)/2 — exactly the quantity
    * [[boundedCandidatePairs]]' hot-bucket guard bounds, so this is
    * the report an operator reads to SET that cap (and `maxBucket` /
    * `bitsPerTable` growth, as the 100 TB notes on the pair finders
    * prescribe). Two map-side-combinable aggregations past the banding
    * — nothing new shuffles at corpus width; all exact integers.
    *
    * Output: (band, n_buckets, n_docs, max_bucket, n_multi_buckets,
    * candidate_pairs), ordered by band. */
  def lshBandStats(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
                   rowsPerBand: Int = 4): DataFrame =
    lshBands(minHashSignatures(docs, n, numHashes), numHashes, rowsPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_bucket"),
        sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("n_multi_buckets"),
        sum(expr("sz * (sz - 1) div 2")).as("candidate_pairs"))
      .orderBy(col("band"))

  /** Candidate pairs: docs sharing any (band, bucket); then verified with
    * exact Jaccard and thresholded — the scale path for dedup_fuzzy.
    * Output schema matches [[ngramJaccardPairs]]. MinHash buckets are
    * content-derived (a bucket is a set of docs agreeing on a whole
    * signature band), so occupancy tracks true near-dup groups — but a
    * duplicate-heavy corpus still makes them quadratic, so candidates go
    * through [[boundedCandidatePairs]]: over `maxBucket` members per
    * (band, bucket) fails loudly (or drops, per `overflow`). */
  /** MINHASH ESTIMATOR-ERROR AUDIT (round 12) — "measure, don't
    * guess" for the dedup family, the sibling of the ANN recall
    * report: the banded-MinHash pipeline DECIDES near-duplicates by
    * the signature-agreement estimate wherever exact re-verify is too
    * expensive (the streaming gate does exactly this), so the
    * estimator's measured error against exact Jaccard — on the real
    * shingle distribution, over the real candidate set — is the number
    * that justifies the threshold. Per banded candidate pair:
    * est_ppm = agreeing-positions·10⁶ div numHashes, exact_ppm from
    * the shingle sets; the summary row reports pair count, mean/max
    * absolute error and the two DISAGREEMENT counts at the production
    * threshold (estimator-accepts-exact-rejects and vice versa) — all
    * integer, so even the estimator's sampling error replays in the
    * oracle.
    *
    * Scale shape: the production candidate enumeration (bounded
    * buckets) + one signature join (bounded zip_with per pair) + the
    * exact-verify join the batch path already pays; ONE row out. */
  /** Estimator-audit disagreement threshold (ppm), shared with the
    * oracle generator. */
  val MinHashAuditThresholdPpm: Long = 500000L

  def minHashEstimatorAudit(docs: DataFrame, n: Int = 3,
                            numHashes: Int = 64, rowsPerBand: Int = 4,
                            maxBucket: Int = 1024,
                            overflow: BucketOverflow = BucketOverflow.Fail,
                            thresholdPpm: Long = MinHashAuditThresholdPpm,
                            scope: CacheScope = CacheScope.off): DataFrame = {
    val sh = scope.track(shingleTable(docs, n))
    val sigs = minHashSignatures(docs, n, numHashes)
    val bands = lshBands(sigs, numHashes, rowsPerBand)
    val cand = boundedCandidatePairs(bands, "doc_id", Seq("band", "bucket"),
      maxBucket, overflow, "minHashEstimatorAudit")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id") &&
        col("a.shingle") === col("b.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val est = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // native codegen'd agreement count (round 18) — value-identical
        // to the zip_with fold, evaluated once per candidate pair
        graft.functions.VectorFunctions.longArrayAgree(
          col("sig_a"), col("sig_b")).as("n_agree"))
    val pairs = est
      // a pure bucket-key collision can share zero shingles — the
      // estimator audit must still count it (exact = 0)
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .select(
        expr(s"(n_agree * 1000000) div $numHashes").as("est_ppm"),
        expr("(n_common * 1000000) div (sz_a + sz_b - n_common)")
          .as("exact_ppm"))
      .select(col("est_ppm"), col("exact_ppm"),
        abs(col("est_ppm") - col("exact_ppm")).as("abs_err"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("abs_err")).as("sum_abs_err"),
        max(col("abs_err")).as("max_abs_err_ppm"),
        sum(when(col("est_ppm") >= thresholdPpm &&
          col("exact_ppm") < thresholdPpm, 1L).otherwise(0L))
          .as("n_est_only"),
        sum(when(col("est_ppm") < thresholdPpm &&
          col("exact_ppm") >= thresholdPpm, 1L).otherwise(0L))
          .as("n_exact_only"))
      .select(col("n_pairs"),
        expr("CAST(sum_abs_err div nullif(n_pairs, 0L) AS BIGINT)")
          .as("mean_abs_err_ppm"),
        col("max_abs_err_ppm"), col("n_est_only"), col("n_exact_only"))
  }

  /** Containment threshold (milli) shared with the oracle generator. */
  val ContainmentMilli: Long = 800L

  /** CONTAINMENT near-dup pairs (round 12) — the SUBSET-duplicate
    * detector symmetric Jaccard structurally misses: a short document
    * pasted whole into a long one has J = |A|/|B| (tiny when B is
    * long) but containment |A∩B|/|A| = 1 — quote farms, scraped
    * aggregators and template expansions all look exactly like this,
    * and a dedup pass keyed on Jaccard alone keeps both copies. Pairs
    * qualify when the LARGER containment (= n_common/min(sz)) clears
    * `thresholdMilli`, compared by integer cross-multiplication (no
    * float threshold); both directed containments surface as exact
    * ppm. Same one-shuffle df-capped bounded-bucket enumeration as the
    * Jaccard path (`maxDf` keeps stop-shingles from going quadratic;
    * O(cap) buffers) — only the verify tail differs.
    *
    * Output: (doc_a, doc_b, n_common, sz_a, sz_b, contain_a_ppm,
    * contain_b_ppm), doc_a < doc_b, ordered. */
  def containmentPairs(docs: DataFrame,
                       thresholdMilli: Long = ContainmentMilli,
                       n: Int = 3, maxDf: Int = 100,
                       scope: CacheScope = CacheScope.off): DataFrame = {
    val raw = shingleTable(docs, n, None)
    val buckets = scope.track(raw
      .groupBy(col("shingle"))
      .agg(graft.functions.BoundedAgg.boundedCollect(maxDf)(col("doc_id"))
        .as("ds"))
      .filter(size(col("ds")) <= maxDf))
    val sizes = buckets.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = buckets
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .filter(col("n_common") * lit(1000L) >=
        lit(thresholdMilli) * least(col("sz_a"), col("sz_b")))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("sz_a"),
        col("sz_b"),
        expr("CAST((n_common * 1000000) div sz_a AS BIGINT)")
          .as("contain_a_ppm"),
        expr("CAST((n_common * 1000000) div sz_b AS BIGINT)")
          .as("contain_b_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def minHashNearDupPairs(docs: DataFrame, threshold: Double = 0.5,
                          n: Int = 3, numHashes: Int = 64,
                          rowsPerBand: Int = 4,
                          maxBucket: Int = 1024,
                          overflow: BucketOverflow = BucketOverflow.Fail,
                          scope: CacheScope = CacheScope.off): DataFrame = {
    val sh = scope.track(shingleTable(docs, n))
    val bands = lshBands(minHashSignatures(docs, n, numHashes), numHashes, rowsPerBand)
    val cand = boundedCandidatePairs(bands, "doc_id", Seq("band", "bucket"),
      maxBucket, overflow, "minHashNearDupPairs")
    // exact-verify candidates only: join back their shingle sets
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id") &&
        col("a.shingle") === col("b.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardVerify(inter, sizes, threshold)
  }

  /** Partial-overlap pairs via shared WINNOWING fingerprints — the MOSS
    * detection query: docs sharing ≥ `minShared` selected window-min
    * hashes ([[TextAnalysis.winnowFingerprints]]). Complements the
    * Jaccard family: a whole-doc Jaccard threshold misses two LONG docs
    * that share one boilerplate paragraph (the shared shingles drown in
    * each doc's total), while any shared run of ≥ w+k-1 tokens is
    * GUARANTEED a common winnow fingerprint — so this finds copied
    * passages, license headers and template boilerplate across
    * otherwise-unrelated documents. Candidates enumerate through the
    * same [[boundedCandidatePairs]] hot-bucket guard as the other LSH
    * paths (a fingerprint shared by a whole corpus — the boilerplate
    * case par excellence — must cap or fail, never go quadratic).
    * Output: (doc_a, doc_b, n_shared), doc_a < doc_b, ordered. */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                         minShared: Int = 2, maxBucket: Int = 1024,
                         overflow: BucketOverflow = BucketOverflow.Fail): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fps = TextAnalysis.winnowFingerprints(docs, k, w)
    boundedCandidatePairs(fps, "doc_id", Seq("fp"), maxBucket, overflow,
        "winnowOverlapPairs", keepCounts = true)
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** C(n, k), saturating at Long.MaxValue — guard arithmetic only. */
  private def binomial(n: Int, k: Int): Long = {
    val kk = math.min(k, n - k)
    var r = 1L
    var i = 1
    while (i <= kk) {
      if (r > Long.MaxValue / (n - kk + i)) return Long.MaxValue
      r = r * (n - kk + i) / i
      i += 1
    }
    r
  }

  /** 64-bit SimHash fingerprints via the native SimHash64 expression:
    * per-token md5 hashes (engine-portable, see
    * graft.functions.PortableHash) vote ±1 per bit, sign of the sum is
    * the fingerprint bit. Narrow projection — no explode, no shuffle
    * (the previous formulation shuffled |tokens| rows through 64
    * aggregate buffers per doc). */
  def simHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.VectorFunctions.simHash64(col("text")).as("simhash"))

  /** Block-combination band keys for [[simHashNearDupPairs]] — the
    * blocking scheme of Manku, Jain & Das Sarma, "Detecting
    * Near-Duplicates for Web Crawling" (WWW '07): split the 64-bit
    * fingerprint into `numBlocks` contiguous bit blocks; a pair within
    * Hamming distance `maxHamming` has flips in at most `maxHamming`
    * blocks, so at least `numBlocks - maxHamming` blocks are IDENTICAL —
    * blocking on every (numBlocks - maxHamming)-subset of blocks keeps
    * recall 1 by pigeonhole.
    *
    * Why combinations and not single blocks: one block of 64/numBlocks
    * bits is a FIXED keyspace (the old 4×16-bit form: 65,536 buckets →
    * expected occupancy N/65,536 per band, in-bucket work quadratic in
    * corpus size no matter the content). A combination key concatenates
    * numBlocks - maxHamming blocks — ≥ 31 bits at the defaults (6 choose
    * 3 → 20 bands), a ~2³³ keyspace where collisions mean near-identical
    * fingerprints, not corpus mass. The cost is C(numBlocks, maxHamming)
    * keys per doc instead of numBlocks — 20 vs 4 narrow exploded rows,
    * bought back many times over by candidate sparsity.
    *
    * Returns array<struct<band:int, key:bigint>>, one entry per block
    * combination; key = the chosen blocks' bits concatenated (≤ 63 bits
    * for maxHamming ≥ 1). */
  def simHashBandKeys(fp: Column, maxHamming: Int = 3,
                      numBlocks: Int = 6): Column = {
    require(numBlocks > maxHamming && numBlocks <= 64,
      s"need maxHamming < numBlocks <= 64, got $maxHamming/$numBlocks")
    require(maxHamming >= 1, "maxHamming must be >= 1 (0 needs no banding)")
    // C(numBlocks, maxHamming) keys per doc are materialized EAGERLY at
    // plan-build time: mid-range parameters (say 40/20) mean billions of
    // structs — refuse before allocating anything
    require(binomial(numBlocks, maxHamming) <= 512L,
      s"simHashBandKeys would emit C($numBlocks, $maxHamming) = " +
        s"${binomial(numBlocks, maxHamming)} band keys per doc (limit 512) " +
        "— lower numBlocks or maxHamming")
    val base = 64 / numBlocks
    val rem = 64 % numBlocks
    val widths = Seq.tabulate(numBlocks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    // arithmetic >> sign-extends the top block; the width mask strips it
    def block(i: Int): Column =
      shiftright(fp, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1L))
    val combos = (0 until numBlocks).combinations(numBlocks - maxHamming).toSeq
    array(combos.zipWithIndex.map { case (combo, ci) =>
      val key = combo.foldLeft(lit(0L): Column) { (acc, b) =>
        shiftleft(acc, widths(b)).bitwiseOR(block(b))
      }
      struct(lit(ci).as("band"), key.as("key"))
    }: _*)
  }

  /** SimHash near-dup pairs: block on [[simHashBandKeys]] combination
    * keys (recall 1 for Hamming ≤ maxHamming by pigeonhole, keyspace
    * ~2³³ at the defaults so buckets track near-identical fingerprints,
    * not corpus size), enumerate candidates through the
    * [[boundedCandidatePairs]] hot-bucket guard, verify with exact
    * Hamming distance. */
  def simHashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
                          numBlocks: Int = 6, maxBucket: Int = 1024,
                          overflow: BucketOverflow = BucketOverflow.Fail,
                          scope: CacheScope = CacheScope.off): DataFrame = {
    // fps is consumed 3× (banding + both verify sides): persist the tiny
    // (doc_id, simhash) frame so the text scan+hash runs once
    val fps = scope.track(simHash(docs))
    // null fingerprints (null text) must not congregate in a null-key
    // bucket — they can never verify, but they could trip the Fail guard
    val banded = fps.filter(col("simhash").isNotNull)
      .select(col("doc_id"),
        explode(simHashBandKeys(col("simhash"), maxHamming, numBlocks)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = boundedCandidatePairs(banded, "doc_id", Seq("band", "key"),
      maxBucket, overflow, "simHashNearDupPairs")
    val fa = fps.select(col("doc_id").as("doc_a"), col("simhash").as("fp_a"))
    val fb = fps.select(col("doc_id").as("doc_b"), col("simhash").as("fp_b"))
    cand.join(fa, Seq("doc_a")).join(fb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Paragraph-level EXACT dedup — the CCNet/Gopher-style boilerplate
    * pass, distinct from whole-doc dedup: a repeated PASSAGE (license
    * header, navigation block, disclaimer) is removed everywhere but
    * its first occurrence while the host documents survive with their
    * remaining paragraphs. "Paragraph" here is a NON-overlapping token
    * window ([[Corpus.chunkDocs]] with stride = chunkSize, so the
    * windows partition the document); first occurrence = smallest
    * (doc_id, chunk_id), a total order.
    *
    * Scale shape: the chunking is narrow (no shuffle), then exactly
    * ONE shuffle on the paragraph text and a rank<=1 filter that plans
    * as WindowGroupLimit — per-group work is O(group), never a
    * corpus-wide sort. The reference's exact-dedup analog is row-level
    * ([[Relational.dedupExact]]); this is its sub-document sibling. */
  def paragraphDedup(docs: DataFrame, chunkSize: Int = 32): DataFrame = {
    val chunks = Corpus.chunkDocs(docs, chunkSize, chunkSize)
    val w = Window.partitionBy(col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
    chunks.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Duplicated-SUBSTRING-span detection — the exact-substring sibling of
    * [[paragraphDedup]] and the positional sibling of the winnow/
    * contamination k-gram family: find every run of ≥ `w` tokens that
    * occurs MORE THAN ONCE anywhere in the corpus (across documents or
    * repeated within one), merge the per-document hits into maximal
    * token spans, and report per-doc duplication load.
    * Training-data curation removes these spans rather than whole
    * near-dup documents (boilerplate headers, license blocks, templated
    * paragraphs inside otherwise-unique pages) — whole-doc MinHash never
    * sees them when the host documents differ everywhere else.
    *
    * Mechanics (three shuffle-partitionable steps, no driver state):
    *  1. positional w-gram fingerprints: one row per (doc, start) with
    *     the md5-prefix of the normalized gram text — the SAME
    *     normalize→gram→md5 contract every other text oracle replays,
    *     but keeping the POSITION (winnowFps deliberately discards it).
    *  2. global occurrence count per fingerprint (map-side-combinable
    *     groupBy); fingerprints with count ≥ 2 are duplicated — an
    *     equi-join back marks intervals [start, start+w-1].
    *  3. per-doc interval merge as ONE window pass: an interval opens a
    *     new island iff its start exceeds the running max end of every
    *     earlier interval (overlap-chain union is contiguous, so island
    *     coverage = max(end) − min(start) + 1); islands then aggregate
    *     to (span count, duplicated-token count) per doc.
    * Docs shorter than `w` tokens produce no grams but stay in the
    * summary via the left join (zero spans). Exact integers end-to-end;
    * `dup_ratio` is one double division of exact longs.
    *
    * 100 TB shape: step 1 explodes to ~n_tokens rows (same volume class
    * as contamination_ngram's shingle pass); step 2's count is partial-
    * aggregated before the exchange and the join's build side is one row
    * per DISTINCT duplicated fingerprint (Zipf heavy-hitters skew only
    * the probe side — AQE's skew split applies); step 3's window is
    * per-doc, bounded by document length. Nothing is all-pairs and
    * nothing broadcasts the corpus. */
  def substringDupSpans(docs: DataFrame, w: Int = 8,
                        scope: CacheScope = CacheScope.off): DataFrame = {
    val norm = regexp_replace(trim(lower(col("text"))), " +", " ")
    val base = docs.select(col("doc_id"), split(norm, " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    // one row per gram start (1-based, mirroring the oracle's range());
    // docs with fewer than w tokens can host no gram — filtered before
    // the explode, re-joined in the summary. The gram relation feeds
    // BOTH the occurrence count and the join probe — scope-persist it
    // so the corpus-sized tokenize→hash pass runs once, not twice
    // (the contaminationNgrams multi-consumer pattern).
    val grams = scope.track(base.filter(col("n_tokens") >= w)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), col("n_tokens") - (w - 1)),
          i => substring(md5(concat_ws(" ", slice(col("toks"), i, lit(w)))), 1, 8))))
      .select(col("doc_id"), (col("pos") + 1).as("s"),
        (col("pos") + w).as("e"), col("col").as("fp")))
    val dupFps = grams.groupBy(col("fp"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2).select("fp")
    val hits = grams.join(dupFps, "fp")
    // interval merge: new island iff start > max(end) over all earlier
    // intervals of the doc (start is unique per doc — one gram per
    // position — so the order is total and the pass deterministic)
    val prev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val islands = hits
      .withColumn("new_island",
        when(col("s") > coalesce(max(col("e")).over(prev), lit(-1)), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("s"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("e")) - min(col("s")) + 1).cast("long").as("width"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"), sum(col("width")).as("dup_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** CLUSTER-SIZE histogram (round 11) — the shape report over the
    * near-dup components ([[clustersFromPairs]]' output, read as a
    * distribution): how many singletons, how many pairs, how big the
    * largest blob — the first thing a dedup audit checks, because one
    * giant component usually means a boilerplate shingle slipped the
    * df-cap, not real duplication. Two bounded aggregations past the
    * labeling (per-cluster size, then ≤ max-size histogram rows).
    * Consumes the SAME pair relation as `dedup_fuzzy`/`dedup_cluster`/
    * `dedup_rate_report` (in the harness the memoized
    * `memo:near_dup_pairs` table — its fourth consumer).
    *
    * Output: (cluster_size, n_clusters, n_docs), ordered. */
  def clusterSizeHistogram(docs: DataFrame, pairs: DataFrame,
                           maxIters: Int = 20): DataFrame =
    clustersFromPairs(docs, pairs, maxIters)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** SOURCE-OVERLAP matrix (round 11) — which sources mirror each
    * other, at the GRAM level (the provenance complement of
    * [[dedupRateReport]]'s cross-source pair counts: that needs
    * near-dup pairs to exist; this sees partial mirroring and
    * boilerplate sharing directly in the shingle sets): per source
    * pair, the count of distinct shingles BOTH carry, with each
    * source's distinct-shingle total and the containment ratio
    * (shared / smaller side — the asymmetric-mirror detector).
    *
    * Scale shape: (source, shingle) distincts (one map-side-combined
    * pass), then pairs enumerate PER SHINGLE across the ≤ |sources|
    * carriers — fan-out bounded by C(|sources|, 2) per shingle
    * (sources are a dimension, ≤ dozens; a per-shingle carrier list
    * never materializes beyond that), aggregated map-side to the ≤
    * |sources|² matrix. One IEEE division per pair.
    *
    * Output: (src_a, src_b, shared, n_a, n_b, containment),
    * src_a < src_b, ordered. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    val ss = docs.select(col("source"),
        explode(shingles(col("text"), n)).as("shingle"))
      .distinct()
    val totals = ss.groupBy(col("source"))
      .agg(count(lit(1)).as("n_sh"))
    val shared = ss.as("x").join(ss.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n_sh").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"),
        col("n_b"),
        (col("shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** N-GRAM NOVELTY curve (round 11) — the marginal-content question a
    * corpus curator asks before ingesting more of a source: how much
    * of each document's content is NEW vs already seen earlier in the
    * arrival order (doc_id here — substitute a crawl timestamp
    * unchanged)? A shingle is novel in the FIRST document that
    * carries it — computed as min-doc-per-shingle, one map-side-
    * combinable MIN aggregation over the shingle relation (the
    * dedup_fuzzy blocking table — same word-3-gram contract), never a
    * pairwise comparison or an ordered scan. Per doc: distinct grams,
    * novel grams (its doc_id IS the min), and the novelty ratio — a
    * corpus whose tail documents trend toward zero novelty has been
    * crawled to exhaustion; a near-dup-heavy source shows it here
    * before any pair enumeration runs.
    *
    * Output: (doc_id, n_grams, n_novel, novelty), one row per doc with
    * ≥ 1 shingle, ordered. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = shingleTable(docs, n)
    val first = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams"))
      .orderBy(col("doc_id"))
  }

  /** DEDUP-RATE audit report (round 11) — the summary every corpus
    * curation run publishes before anyone trusts the dedup pass: per
    * SOURCE (the provenance axis a data lead slices by), how many
    * documents, how many are near-duplicates of a smaller-id document
    * (the keep-lowest doctrine's suppressed set), how many duplicate
    * pairs stay within the source vs cross into another — within/cross
    * is THE curation signal, separating a crawler that re-fetched its
    * own pages from sources plagiarizing each other.
    *
    * Consumes an already-computed PAIR relation ([[ngramJaccardPairs]]
    * shape — in the harness the session-memoized `memo:near_dup_pairs`
    * table, its third consumer after `dedup_fuzzy`/`dedup_cluster`):
    * the report is two broadcast-joinable label attachments + bounded
    * aggregations over the pair table, nothing corpus-shaped. One
    * IEEE division per source for the rate; every count exact.
    *
    * Output: (source, n_docs, n_dup_docs, n_pairs_within,
    * n_pairs_cross, dup_rate), ordered by source. */
  def dedupRateReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val lab = docs.select(col("doc_id"), col("source"))
    val pa = pairs
      .join(lab.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        Seq("doc_a"))
      .join(lab.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        Seq("doc_b"))
    val within = pa.filter(col("src_a") === col("src_b"))
      .groupBy(col("src_a").as("source"))
      .agg(count(lit(1)).as("n_pairs_within"))
    // a cross pair touches BOTH its sources' rows
    val cross = pa.filter(col("src_a") =!= col("src_b"))
      .select(col("src_a").as("source"))
      .unionByName(pa.filter(col("src_a") =!= col("src_b"))
        .select(col("src_b").as("source")))
      .groupBy(col("source")).agg(count(lit(1)).as("n_pairs_cross"))
    val dupDocs = pa.select(col("doc_b"), col("src_b").as("source"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(dupDocs, Seq("source"), "left")
      .join(within, Seq("source"), "left")
      .join(cross, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("n_pairs_within"), lit(0L)).as("n_pairs_within"),
        coalesce(col("n_pairs_cross"), lit(0L)).as("n_pairs_cross"),
        (coalesce(col("n_dup_docs"), lit(0L)).cast("double") /
          col("n_docs")).as("dup_rate"))
      .orderBy(col("source"))
  }
}
