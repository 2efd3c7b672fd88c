package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GraphLoops._

/** Graph analytics over the order co-occurrence graph — the relational
  * face of graph compute, rounding out the engine's graph family next to
  * `dedup_cluster`'s connected components: nodes are parts, and two
  * parts are adjacent iff some order contains both. Per-order item
  * counts are application-bounded (TPC-H-style orders hold a handful of
  * lines), so the pair fan-out per order is a small constant — the same
  * bounded-by-semantics argument as `event_journey` — and the edge
  * relation builds in one groupBy(order) + bounded explode, never a
  * quadratic self-join over lineitem.
  *
  * Both operators are DETERMINISTIC BY CONSTRUCTION on any engine:
  * PageRank runs in fixed-point integer arithmetic (scale 10^12,
  * truncating division — both engines' integer div agree on the
  * non-negative domain) for a FIXED, small iteration count, the same
  * unroll-into-SQL doctrine that put the trained IVF under the full
  * oracle; triangle counting is pure integer joins. Reference scope:
  * the reference conduit has no graph surface; this is the mandated
  * analytics extension group.
  */
object Graph {

  /** Undirected co-occurrence edges (a < b), weight = co-order count.
    * One shuffle on l_orderkey; fan-out bounded by per-order item
    * count. */
  def coOrderEdges(lineitem: DataFrame): DataFrame = {
    // collect_set dedupes per order, so no distinct() first — that
    // would be a second full shuffle of the widest relation for nothing
    val items = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    items
      .select(explode(col("parts")).as("a"), col("parts"))
      .select(col("a"), explode(col("parts")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** DEGREE DISTRIBUTION (round 11) — the first diagnostic a graph
    * pipeline prints, and the one that SIZES everything else here: the
    * histogram's tail is exactly what the triangle orientation's
    * degree-ordering defends against and what the bounded-bucket caps
    * must be provisioned for, so the skew check belongs on the query
    * board next to the operators it protects. Nodes that co-occur with
    * nothing report degree 0 (structural, from the part universe — a
    * disconnected catalog is visible, not silently absent).
    *
    * Shape: two map-side-combinable aggregations past the SHARED edge
    * build (per-node degree, then the ≤ max-degree-row histogram) —
    * nothing new shuffles at corpus width. Output: (degree, n_nodes),
    * ordered. */
  def degreeDistribution(lineitem: DataFrame,
                         edges0: Option[DataFrame] = None): DataFrame = {
    val deg = nodeDegrees(edges0.getOrElse(coOrderEdges(lineitem)))
    lineitem.select(col("l_partkey").as("node")).distinct()
      .join(deg, Seq("node"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))
  }

  /** Fixed-point PageRank, `iters` unrolled iterations at damping
    * 85/100 over the co-occurrence graph. All arithmetic is integer:
    * ranks live at scale 10^12, every division truncates, every sum is
    * exact — so the ranks (including the mass lost to truncation,
    * identical on both engines) hash-match the SQL oracle the way
    * Lloyd's iterations do for IVF. Isolated nodes (no edges) keep the
    * teleport term only.
    *
    * Each iteration is one equi-join of ranks to directed edges plus
    * one map-side-combinable groupBy — the Pregel superstep expressed
    * relationally; at 100 TB the per-iteration shuffle on the node key
    * is inherent to PageRank and the iteration count is the knob.
    *
    * Output: top `k` (part, degree, pr) by (pr desc, part). */
  def pageRank(lineitem: DataFrame, iters: Int = 2, k: Int = 30,
               scope: CacheScope = CacheScope.off,
               edges0: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 4, s"iters must be 1..4, got $iters")
    val S = 1000000000000L // rank scale 10^12
    // The edge relation feeds the degree count plus every unrolled
    // iteration (and the undirected union doubles each occurrence) —
    // without a persist the 3-shuffle edge build re-runs per consumer
    // (plan probe: 16 lineitem scans, 0 ReusedExchange). Scope-persist
    // the UNDIRECTED half (half the cache of the directed form; the
    // union is a narrow re-read) so the graph materializes once, the
    // same edge-cache stance GraphX takes for iterative compute;
    // CacheScope.off recomputes, leak-free. `edges0` supplies an
    // already-materialized [[coOrderEdges]] relation instead (the
    // deployed shape: one edge table, many graph consumers) — the
    // caller owns its lifecycle, so it is not re-tracked here.
    val und = edges0.getOrElse(scope.track(coOrderEdges(lineitem)))
    // directed both ways for contribution routing: the degree rollup
    // AND every unrolled iteration key this relation by src, so it is
    // materialized once already hash-partitioned by src
    // (localCheckpoint preserves outputPartitioning) and none of them
    // re-shuffles the edges.
    val edges = bothWays(und).repartition(col("src")).localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // The node universe feeds the teleport-denominator count, the rank
    // seed AND every iteration's contrib branch — and the fold
    // self-references the rank frame, so DeduplicateRelations
    // re-aliases occurrences and a mere persist stops cache-matching
    // (measured r9: the iteration branches re-scanned lineitem).
    // materialize() cuts the lineage to a LogicalRDD, which every
    // re-aliased occurrence still reads.
    val nodes = scope.materialize(
      lineitem.select(col("l_partkey").as("part")).distinct()
        .join(deg.withColumnRenamed("src", "part"), Seq("part"), "left")
        .na.fill(0L, Seq("deg")))
    val nFrame = nodes.agg(count(lit(1)).as("n_nodes"))
    val r0 = nodes.crossJoin(broadcast(nFrame))
      .select(col("part"), col("deg"), col("n_nodes"),
        expr(s"$S div n_nodes").as("pr"))
    val ranked = (1 to iters).foldLeft(r0) { (r, _) =>
      val contrib = r.filter(col("deg") > 0)
        .select(col("part").as("src"), expr("pr div deg").as("c"))
        .join(edges, "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      r.join(contrib.withColumnRenamed("dst", "part"), Seq("part"), "left")
        .na.fill(0L, Seq("contrib"))
        .select(col("part"), col("deg"), col("n_nodes"),
          (expr(s"(15 * $S) div (100 * n_nodes)") +
            expr("(85 * contrib) div 100")).as("pr"))
    }
    ranked.select(col("part"), col("deg"), col("pr"))
      .orderBy(col("pr").desc, col("part"))
      .limit(k)
  }

  /** Degree-ordered orientation of an undirected (a, b) edge list:
    * each edge directed from its lower-(degree, id) endpoint, head's
    * order key carried as (dv, v). Out-degree is ≤ √(2·|E|) on any
    * graph (every out-neighbor of u has (deg, id) ≥ u's, and fewer
    * than √(2·|E|) nodes have degree ≥ √(2·|E|)) — the bound the
    * skew spec asserts. */
  /** NEIGHBOR-JACCARD link scores (round 11) — the link-prediction /
    * recommendation primitive over the co-occurrence graph ("parts
    * that share co-purchase neighborhoods belong together"): per
    * existing edge, |N(a)∩N(b)| / |N(a)∪N(b)| over OPEN neighborhoods
    * minus the endpoints. Common neighbors come FREE from the
    * degree-ordered triangle enumeration ([[triangles]]' skew-safe
    * oriented wedge join — each triangle donates one common neighbor
    * to each of its three edges), so the count is one explode +
    * map-side-combinable groupBy past the shared enumeration — never
    * a neighborhood-set join. Triangle-free edges score a structural
    * 0 (and a both-endpoints-degree-1 edge has empty union — defined
    * 0). Top `k` by (jaccard DESC, a, b) via TakeOrdered.
    *
    * Output: (a, b, cn, union_n, jaccard), ordered by rank. */
  def neighborJaccard(lineitem: DataFrame, k: Int = 20,
                      scope: CacheScope = CacheScope.off,
                      edges0: Option[DataFrame] = None,
                      tri0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(scope.track(coOrderEdges(lineitem)))
      .select(col("a"), col("b"))
    // `tri0` supplies a caller-materialized [[orientedTriangles]]
    // relation (the deployed shape: enumerate once, every graph audit
    // reads the table) — without it the wedge join runs here
    val tri = tri0.getOrElse(orientedTriangles(e))
    val cn = tri.select(explode(array(
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    val deg = nodeDegrees(e)
    e.join(cn, Seq("a", "b"), "left")
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))),
        Seq("b"))
      .select(col("a"), col("b"), coalesce(col("cn"), lit(0L)).as("cn"),
        (col("da") + col("db") - 2 -
          coalesce(col("cn"), lit(0L))).as("union_n"))
      .withColumn("jaccard",
        when(col("union_n") > 0,
          col("cn").cast("double") / col("union_n")).otherwise(lit(0.0)))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Oriented triangle ENUMERATION (round 12; edge-iterator rewrite
    * round 15) — the shared relation behind [[triangles]] and
    * [[neighborJaccard]]: each triangle of the undirected (a, b) edge
    * list exactly once as (x, y, z) with (x, y, z) ascending in the
    * (degree, id) total order. Built from the degree-ordered
    * orientation ([[degreeOriented]]): out-degree ≤ √(2·|E|) on ANY
    * graph, so a hub keeps its fan-out as in-edges and no oriented
    * adjacency list explodes.
    *
    * Round 15 replaces the wedge self-join + closing-edge equi-join
    * with the EDGE-ITERATOR form: per oriented edge (x, y), the
    * closing nodes are exactly A(x) ∩ A(y) over the sorted oriented
    * out-adjacency arrays (x→y, x→z, y→z are precisely the oriented
    * edges of a triangle with x < y < z in the total order, so each
    * triangle is enumerated once, from its (x, y) edge). Why this
    * shape at scale: the old plan MATERIALIZED every wedge — Θ(Σ
    * outdeg²) three-column rows — and shuffled them on (y, z) to meet
    * the closing edge; wedges ≫ triangles, and at 10× data that
    * shuffle is pure sort-spill (the round-14 probe's 20–33× memo
    * ratio at local[4]). Here nothing wider than the adjacency-
    * annotated EDGE relation is ever shuffled: one groupBy builds the
    * packed arrays (O(|E|) longs), two node-keyed equi-joins attach
    * them, and the intersection runs as in-partition CPU emitting
    * only TRUE triangles. The inner joins also prune every edge whose
    * head has no out-edges (top-of-order nodes — no z can close).
    * `adjPartitions` lets a caller that KNOWS the edge count (the
    * session memo build does) scale the shuffle width with the data
    * instead of inheriting a session constant sized for sf0.1 — the
    * knob a real cluster turns. */
  def orientedTriangles(e: DataFrame,
                        adjPartitions: Option[Int] = None): DataFrame = {
    val d0 = degreeOriented(e).select(col("u"), col("v"))
    val d = adjPartitions.map(n => d0.repartition(n, col("u"))).getOrElse(d0)
    // (u, v) is distinct by construction (one oriented edge per
    // undirected edge), so the packed list is a set; sorted so the
    // intersection is cache-friendly and the relation deterministic
    val adj = d.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    d.select(col("u").as("x"), col("v").as("y"))
      .join(adj.select(col("u").as("y"), col("nbrs").as("ay")), Seq("y"))
      .join(adj.select(col("u").as("x"), col("nbrs").as("ax")), Seq("x"))
      .select(col("x"), col("y"),
        explode(array_intersect(col("ax"), col("ay"))).as("z"))
  }

  /** LOCAL CLUSTERING COEFFICIENT (round 12) — the neighborhood-density
    * score next to [[triangles]]' raw counts: per node with degree ≥ 2,
    * 2·tri(v) / (deg(v)·(deg(v)−1)) — how close the node's neighborhood
    * is to a clique, the community-structure diagnostic a graph
    * pipeline reads after the degree histogram. Third consumer of the
    * shared [[orientedTriangles]] enumeration (`memo:triangles`): the
    * marginal cost is one explode+groupBy for the counts plus one
    * map-side-combinable degree build and a node-keyed equi-join —
    * NOTHING new shuffles at edge width. Numerator and denominator are
    * exact BIGINTs; the score is ONE IEEE division, bit-replayable.
    * Degree-1 / isolated nodes are excluded (undefined coefficient),
    * triangle-free nodes score a structural 0.0.
    *
    * Output: top `k` (part, degree, n_triangles, coeff) by
    * (coeff DESC, part). */
  def clusteringCoeff(lineitem: DataFrame, k: Int = 20,
                      scope: CacheScope = CacheScope.off,
                      edges0: Option[DataFrame] = None,
                      tri0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(scope.track(coOrderEdges(lineitem)))
      .select(col("a"), col("b"))
    val tri = tri0.getOrElse(orientedTriangles(e))
    val cnt = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
    val deg = nodeDegrees(e).select(col("node").as("part"), col("deg").as("degree"))
    deg.filter(col("degree") >= 2)
      .join(cnt, Seq("part"), "left")
      .select(col("part"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff",
        (lit(2L) * col("n_triangles")).cast("double") /
          (col("degree") * (col("degree") - 1)).cast("double"))
      .orderBy(col("coeff").desc, col("part"))
      .limit(k)
  }

  /** ASSOCIATION RULES (round 12) — the market-basket face of the
    * co-occurrence graph: per co-purchased pair, support (co-order
    * count — exactly the shared edge weight), each side's order count,
    * both direction confidences and the LIFT
    * support·N / (n_a·n_b) — the affinity score a recommender reads.
    * Rides `memo:co_order_edges` (support IS the edge weight); the
    * marginal cost is one map-side-combinable per-part order count +
    * two broadcast joins + TakeOrdered. Counts are exact BIGINTs; each
    * score is fixed-order IEEE arithmetic on exact operands —
    * bit-replayable (operands stay < 2^53 here; at corpus scales past
    * that the products move to DECIMAL(38), the stats_regression
    * convention).
    *
    * Output: top `k` (a, b, support, n_a, n_b, conf_ab, conf_ba,
    * lift) by (lift DESC, a, b). */
  def affinityRules(lineitem: DataFrame, k: Int = 20,
                    edges0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(coOrderEdges(lineitem))
    val it = lineitem.select(col("l_orderkey").as("o"),
      col("l_partkey").as("p")).distinct()
    val cnt = it.groupBy(col("p")).agg(count(lit(1)).as("n_orders"))
    val total = it.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_total"))
    e.join(broadcast(cnt.select(col("p").as("a"),
        col("n_orders").as("n_a"))), Seq("a"))
      .join(broadcast(cnt.select(col("p").as("b"),
        col("n_orders").as("n_b"))), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("w").as("support"),
        col("n_a"), col("n_b"),
        (col("w").cast("double") / col("n_a").cast("double")).as("conf_ab"),
        (col("w").cast("double") / col("n_b").cast("double")).as("conf_ba"),
        ((col("w").cast("double") * col("n_total").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  /** CONNECTED COMPONENTS (round 12) — the reachability face of the
    * graph family, completing the classic set (rank, count, degree,
    * link score, density): component-size histogram of the
    * co-occurrence graph, computed by the engine's proven generic CC
    * primitive ([[Dedup.connectedComponents]] — bounded small-graph
    * union-find fast path, vertex-only min-label propagation with
    * pointer jumping past the cap; see its scaladoc for the 100 TB
    * argument). Isolated parts (no co-order edges) are STRUCTURAL
    * singleton components from the part universe — a disconnected
    * catalog is visible, not silently absent, the
    * [[degreeDistribution]] doctrine.
    *
    * Output: (component_size, n_components, n_nodes), ordered —
    * the [[Dedup.clusterSizeHistogram]] contract over parts. */
  /** Label-propagation iteration count, shared with the oracle
    * generator (both sides unroll exactly this many supersteps). */
  val LabelPropIters: Int = 2

  /** LABEL-PROPAGATION COMMUNITIES (round 12) — the near-linear
    * community detector (Raghavan et al. 2007, public) in its
    * DETERMINISTIC synchronous form: every node starts as its own
    * label; each superstep reassigns it the most frequent label among
    * its neighbors with the (count DESC, label ASC) tie-break (classic
    * LPA breaks ties randomly — useless under an exactness oracle);
    * isolated nodes keep their own label. A FIXED [[LabelPropIters]]
    * supersteps unroll into the SQL oracle — the same
    * unroll-into-iterations doctrine as PageRank and trained IVF.
    * Communities differ from [[components]]: LPA splits a connected
    * component along density boundaries, components never do.
    *
    * Per superstep: one edge×label equi-join + two map-side-combinable
    * aggregations (label counts per node, then the arg-max) — the
    * Pregel superstep as relational algebra; nothing beyond the edge
    * relation ever shuffles. Output: top `k` communities by
    * (n_members DESC, community) as TakeOrdered. */
  def labelPropagation(lineitem: DataFrame, iters: Int = LabelPropIters,
                       k: Int = 20,
                       edges0: Option[DataFrame] = None,
                       labels0: Option[DataFrame] = None): DataFrame = {
    labels0.getOrElse(labelPropLabels(lineitem,
        edges0.getOrElse(coOrderEdges(lineitem)), iters))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(k)
  }

  /** The per-node final labels behind [[labelPropagation]] — shared
    * with [[modularity]] so score and partition can never diverge. */
  private[graft] def labelPropLabels(lineitem: DataFrame,
      und: DataFrame, iters: Int = LabelPropIters): DataFrame = {
    require(iters >= 1 && iters <= 4, s"iters must be 1..4, got $iters")
    // The whole `iters`-superstep fold is ONE lazy plan (the memo
    // wrapper's single checkpoint action evaluates it), so a lazy
    // hash-repartition by src is enough: every superstep's edge join
    // keys on the identical exchange subtree and ReuseExchange dedupes
    // it — the edges shuffle ONCE per build, inside the consuming job.
    // Materializing them eagerly instead costs an extra build job whose
    // shuffle and write outweigh the exchanges it saves (measured:
    // memo:lpa_labels 5.7 → 7.2 s).
    val edges = bothWays(und).repartition(col("src"))
    // universe = part universe ∪ edge endpoints: in production the
    // endpoints are a subset of the parts (no change), but a caller
    // supplying a standalone edge relation (the stress specs do) must
    // not have its vertices silently dropped from the label table
    val nodes = lineitem.select(col("l_partkey").as("node"))
      .unionByName(und.select(col("a").as("node")))
      .unionByName(und.select(col("b").as("node")))
      .distinct()
    val l0 = nodes.select(col("node"), col("node").as("lbl"))
    (1 to iters).foldLeft(l0) { (l, step) =>
      // superstep 1's edge×label join is a pure RENAME — the initial
      // labels are the identity map over a node universe that contains
      // every edge endpoint by construction (three lines up), so nlbl =
      // src for every joined row. Skipping the join drops one
      // full-edge-width join from the build; later supersteps (labels
      // no longer identity) join as before.
      val neigh =
        if (step == 1) edges.select(col("dst"), col("src").as("nlbl"))
        else edges
          .join(l.select(col("node").as("src"), col("lbl").as("nlbl")), "src")
          .select(col("dst"), col("nlbl"))
      val best = neigh
        .groupBy(col("dst"), col("nlbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max_by(col("nlbl"), struct(col("c"), -col("nlbl"))).as("plbl"))
      l.join(best.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("plbl"), col("lbl")).as("lbl"))
    }
  }

  /** MODULARITY of the label-propagation partition (round 13) — the
    * Newman-Girvan community-quality score Q = Σ_c [in_c/m −
    * (deg_c/2m)²] (Newman 2004, public): the single number that says
    * whether [[labelPropagation]]'s communities beat a random cut
    * (Q ≈ 0) — detection without a quality score is a demo, not an
    * operator. ENGINE-EXACT: the score is surfaced as the integer
    * identity Q·4m² = Σ_c (4m·in_c − deg_c²), every term BIGINT counts
    * accumulated in DECIMAL(38,0) (deg² overflows int64 at warehouse
    * scale), ONE IEEE division at the end through the via-string
    * bridge. Also emits the intra-community edge share in exact ppm —
    * the raw coverage number Q penalizes. Per-community terms come
    * from two equi-joins of the edge relation against the SHARED
    * [[labelPropLabels]] (score and partition cannot diverge) and
    * ≤-community-count rollups; singleton communities contribute their
    * −deg² term through the structural left joins.
    *
    * Output (one row): n_edges, n_communities, intra_ppm,
    * modularity. */
  def modularity(lineitem: DataFrame,
                 edges0: Option[DataFrame] = None,
                 labels0: Option[DataFrame] = None): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: Column) = c.cast("string").cast("double")
    val und = edges0.getOrElse(coOrderEdges(lineitem))
    val labels = labels0.getOrElse(labelPropLabels(lineitem, und))
    val la = labels.select(col("node").as("a"), col("lbl").as("la"))
    val lb = labels.select(col("node").as("b"), col("lbl").as("lb"))
    val inc = und.join(la, "a").join(lb, "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("inc"))
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .join(labels, "node")
      .groupBy(col("lbl")).agg(count(lit(1)).as("deg"))
    val m = und.agg(count(lit(1)).as("m"))
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("members"))
      .join(deg, Seq("lbl"), "left").join(inc, Seq("lbl"), "left")
      .select(col("lbl"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("inc"), lit(0L)).as("inc"))
      .crossJoin(broadcast(m))
      .agg(first(col("m")).as("n_edges"),
        count(lit(1)).as("n_communities"),
        sum(col("inc")).as("intra"),
        sum(lit(4L).cast(dec) * col("m") * col("inc") -
          col("deg").cast(dec) * col("deg")).as("qn"))
      .select(col("n_edges"), col("n_communities"),
        expr("CAST((intra * 1000000) div nullif(n_edges, 0L) AS BIGINT)")
          .as("intra_ppm"),
        (d(col("qn")) /
          d((col("n_edges") * 2L).cast(dec) * (col("n_edges") * 2L)))
          .as("modularity"))
  }

  /** k-core peel geometry, shared with the oracle generator: both
    * sides unroll exactly [[KCoreRounds]] peel rounds at k =
    * [[KCoreK]]. */
  val KCoreK: Int = 2
  val KCoreRounds: Int = 8

  /** k-CORE EXTRACTION (round 12) — the dense-region primitive
    * (Seidman 1983, public): iteratively peel nodes of degree < k
    * until none remain; what survives is the graph's load-bearing
    * core (community seeds, spam-ring nuclei, the subgraph worth the
    * expensive algorithms). Exact k-core needs peel-to-fixpoint —
    * unbounded — so this runs a FIXED [[KCoreRounds]] rounds
    * (unrolled into the oracle, the LPA/PageRank doctrine) and makes
    * convergence a LOUD IN-PLAN ASSERTION: a 1-row gate frame proves
    * round `rounds`+1 would peel zero nodes (`assert_true`, the
    * connPoolState discipline), so an unconverged graph fails the job
    * with a message instead of shipping a too-large core. Every round
    * is two map-side-combinable degree aggregations + two semi-joins;
    * each round's edge set is materialized (localCheckpoint) so the
    * plan stays linear in rounds.
    *
    * Output: top `topN` core nodes by (core_degree DESC, node). */
  def kCore(lineitem: DataFrame, k: Int = KCoreK,
            rounds: Int = KCoreRounds, topN: Int = 20,
            edges0: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 16,
      s"bad geometry k=$k rounds=$rounds")
    val und0 = edges0.getOrElse(coOrderEdges(lineitem)).select(col("a"), col("b"))
    val core = nodeDegrees(supersteps(und0, rounds) { e =>
      val keep = nodeDegrees(e).filter(col("deg") >= k).select(col("node"))
      e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }.last)
    // convergence gate: one more peel must remove nothing. The assert
    // rides a FILTER (the connPoolState discipline — a projected gate
    // column would be pruned away and never evaluate).
    val wouldPeel = core.filter(col("deg") < k)
      .agg(count(lit(1)).as("n_unpeeled"))
    core
      .crossJoin(broadcast(wouldPeel))
      .filter(assert_true(col("n_unpeeled") === 0L,
        concat(lit(s"k-core did not converge in $rounds rounds: "),
          col("n_unpeeled").cast("string"),
          lit(" nodes still below k"))).isNull)
      .select(col("node"), col("deg").as("core_degree"))
      .orderBy(col("core_degree").desc, col("node"))
      .limit(topN)
  }

  /** DEGREE ASSORTATIVITY (round 12) — the one-number mixing audit
    * (Newman 2002, public): do high-degree parts co-occur with other
    * hubs (r > 0, social-network-like) or with leaves (r < 0,
    * hub-and-spoke)? The sign decides which skew defenses matter —
    * disassortative graphs are exactly where the degree-ordered
    * triangle orientation and bounded-bucket caps earn their keep, so
    * the audit that MEASURES it belongs on the board next to them.
    *
    * Exactness: over the DIRECTED edge list (each undirected edge in
    * both orientations) the x/y marginals are symmetric — Σx = Σy and
    * Σx² = Σy² — so Pearson's denominator √(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)
    * collapses to the single integer n·Σx²−(Σx)², and r becomes a
    * RATIO OF TWO EXACT BIGINTs: num = n·Σxy−(Σx)², den = n·Σx²−(Σx)².
    * No sqrt, no floats; assort_milli is the sign-split division.
    * (Operands < 2^63 through ~1e9 edges with 1e5-degree hubs; the
    * DECIMAL(38) upgrade documented at `order_affinity_rules` applies
    * past that.) den = 0 — a degree-regular graph — yields NULL on
    * both engines.
    *
    * Scale shape: one degree aggregation + two broadcast-or-shuffle
    * equi-joins of edges to degrees + one map-side-combinable
    * reduction; ONE row out. */
  def assortativity(lineitem: DataFrame,
                    edges0: Option[DataFrame] = None): DataFrame = {
    val und = edges0.getOrElse(coOrderEdges(lineitem))
    val directed = bothWays(und)
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    directed
      .join(deg, "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("deg_dst")), "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("deg")).as("sx"),
        sum(col("deg") * col("deg_dst")).as("sxy"),
        sum(col("deg") * col("deg")).as("sxx"))
      .select(col("n").as("n_directed"),
        expr("n * sxy - sx * sx").as("num"),
        expr("n * sxx - sx * sx").as("den"))
      .withColumn("assort_milli",
        expr("CAST(sign(num) AS BIGINT) * ((abs(num) * 1000) div nullif(den, 0L))"))
  }

  def components(lineitem: DataFrame,
                 edges0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(coOrderEdges(lineitem))
      .select(col("a"), col("b"))
    val labels = Dedup.connectedComponents(e)
    lineitem.select(col("l_partkey").as("part")).distinct()
      .join(labels, col("part") === col("node"), "left")
      .select(coalesce(col("lbl"), col("part")).as("lbl"))
      .groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_nodes"))
      .orderBy(col("component_size"))
  }

  /** MULTI-SOURCE BFS LAYERS (round 13) — the reachability primitive
    * the family was missing next to components/k-core/label-prop: how
    * much of the graph a deterministic seed set reaches per hop, the
    * influence/coverage question (seed-product reach, contamination
    * blast radius). The walk runs over the STRONG-TIE graph (edge
    * weight ≥ `minWeight` — on the raw co-order graph one hop reaches
    * everything and the layer structure is vacuous; thresholding is
    * also what a real influence pass does) from the md5-'00' node
    * sample (~1/256 — the doc_sample doctrine, engine-replayable).
    * Fixed `rounds` unroll of the shared frontier BFS
    * ([[GraphLoops.bfs]]) with the whole seed sample as one class:
    * each round is one frontier expansion + one anti-join dedup
    * against the visited set, over node-bounded checkpointed layers.
    * Output: (depth, n_nodes) for depths 0..rounds with
    * −1 = unreached (structural — the unreached mass is the number an
    * influence analyst reads first), ordered. */
  def bfsLayers(lineitem: DataFrame, rounds: Int = 6, minWeight: Long = 2L,
                edges0: Option[DataFrame] = None): DataFrame = {
    // the whole seed sample is ONE class: a node's depth is its hop
    // count from the nearest seed
    val visited = bfs(
      strongTies(edges0.getOrElse(coOrderEdges(lineitem)), minWeight),
      seedSample(lineitem).select(lit(0L).as("seed"), col("node")), rounds)
    lineitem.select(col("l_partkey").as("node")).distinct()
      .join(visited.select(col("node"), col("depth")), Seq("node"), "left")
      .select(coalesce(col("depth"), lit(-1L)).as("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("depth"))
  }

  /** TWO-HOP REACH from md5 seeds (round 15) — the friend-of-friend
    * audience size per seed node, the number an advertising/recall
    * estimate reads before any diffusion model: |{nodes within ≤ 2
    * hops}| on the strong-tie (w ≥ `minWeight`) subgraph, excluding
    * the seed itself. Seeds are the [[bfsLayers]] md5-prefix sample
    * (deterministic ~1/256 of nodes — NEVER all nodes: all-pairs
    * 2-hop is the wedge explosion [[orientedTriangles]] orients away
    * from; seeding bounds the frontier fan-out to |seeds|·deg²
    * worst-case, and the strong-tie filter bounds deg). The per-seed
    * BFS of [[closenessFromSeeds]] at 2 rounds: ring 1 is depth 1, the
    * reach is depths 1 and 2, and a seed that reaches nothing (only its
    * depth-0 row) is absent.
    *
    * Output: (node, n_one_hop, n_two_hop_reach), ordered by node —
    * n_two_hop_reach counts BOTH rings (≤ 2 hops). */
  def twoHopReach(lineitem: DataFrame, minWeight: Long = 2L,
                  edges0: Option[DataFrame] = None): DataFrame =
    seedBfsVisited(lineitem, 2, minWeight, edges0)
      .filter(col("depth") > 0L)
      .groupBy(col("seed"))
      .agg(count(when(col("depth") === 1L, 1)).as("n_one_hop"),
        count(lit(1)).as("n_two_hop_reach"))
      // the md5 filter already dropped null keys; coalesce only tells
      // the schema so (a reaching seed is an edge endpoint, non-null)
      .select(coalesce(col("seed"), lit(0L)).as("node"), col("n_one_hop"),
        col("n_two_hop_reach"))
      .orderBy(col("node"))

  /** DEGREE GINI (round 14) — inequality of the co-order degree
    * distribution: the hub-concentration number that decides whether
    * the graph family's per-node work is balanced (Gini ≈ 0: degrees
    * uniform, any partitioning works) or hub-dominated (Gini → 1: a
    * few super-connectors own most edges — exactly when the wedge
    * join needs its degree orientation and the shuffle needs skew
    * handling). The `order_gini` readout ([[RankGrid.gini]]) applied
    * to degrees: the value-grouped degree grid through the rank
    * kernel, the rank-weighted sum in integers, one IEEE division at
    * the end.
    *
    * Output (one row): n_nodes, sum_degree, gini_num, gini. */
  def degreeGini(lineitem: DataFrame,
                 edges0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(coOrderEdges(lineitem))
      .select(col("a"), col("b"))
    RankGrid.gini(RankGrid.below(nodeDegrees(e).groupBy(col("deg").as("v"))
      .agg(count(lit(1)).as("cnt")), Nil, "v", Seq("cnt")), "n_nodes", "sum_degree")
  }

  /** EDGE-WEIGHT HISTOGRAM (round 14) — the distribution that SIZES
    * the strong-tie threshold: every `minWeight = 2` constant in this
    * file (bfsLayers, closenessFromSeeds — "the raw graph reaches
    * everything in one hop") is provisioned off exactly this, the
    * graph twin of `dedup_df_histogram`'s cap-sizing role. Per log₂
    * weight bucket (bit-length — weights span decades at scale):
    * edge count, weight min/max, total co-order pairs carried, and
    * the edges ABOVE the strong-tie threshold in that bucket —
    * Σ over buckets is the surviving-edge count the BFS keys run on,
    * now a measured number. One edge aggregation, then a ≤64-row
    * rollup.
    *
    * Output: (w_bucket, n_edges, w_min, w_max, total_pairs,
    * n_strong), ordered. */
  def weightHistogram(lineitem: DataFrame, minWeight: Long = 2L,
                      edges0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(coOrderEdges(lineitem))
    e.select(col("w"), length(bin(col("w"))).cast("long").as("w_bucket"))
      .groupBy(col("w_bucket"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("w")).as("w_min"), max(col("w")).as("w_max"),
        sum(col("w")).as("total_pairs"),
        sum(when(col("w") >= minWeight, 1L).otherwise(0L)).as("n_strong"))
      .orderBy(col("w_bucket"))
  }

  /** CLOSENESS CENTRALITY FROM SEEDS (round 14) — per-seed bounded BFS
    * over the strong-tie co-order graph, surfacing the classic
    * closeness (n_reached − 1)/Σdepth as exact ppm: the "how central
    * is this hub" number next to [[pagerank]]'s stationary mass and
    * [[bfsLayers]]' reachability profile. Exact closeness needs
    * all-pairs shortest paths — O(N·E), never at 100 TB — so the
    * production form is exactly this: a deterministic SEED SAMPLE
    * (md5-prefix nodes, the bfsLayers seed rule — scale-invariant
    * share, no collect) each running a ROUND-CAPPED BFS; depths are
    * exact within the horizon, and the cap is the documented truncation
    * (centrality-at-horizon, the form monitoring actually uses).
    *
    * State is (seed, node, min-depth) — K·reached rows, K a fixed
    * fraction of nodes; each round is one frontier-edge equi-join +
    * one anti-join against visited, per-seed keyed (seeds never
    * interact). localCheckpoint per round truncates the growing
    * lineage exactly like [[bfsLayers]].
    *
    * Output: (seed, n_reached, sum_depth, closeness_ppm), ordered by
    * seed; closeness_ppm NULL for an isolated seed (nothing reached). */
  def closenessFromSeeds(lineitem: DataFrame, rounds: Int = 4,
                         minWeight: Long = 2L,
                         edges0: Option[DataFrame] = None): DataFrame =
    seedBfsVisited(lineitem, rounds, minWeight, edges0)
      .groupBy(col("seed"))
      .agg((count(lit(1)) - 1).as("n_reached"),
        sum(col("depth")).as("sum_depth"))
      .select(col("seed"), col("n_reached"), col("sum_depth"),
        expr("CAST((n_reached * 1000000) div nullif(sum_depth, 0L) " +
          "AS BIGINT)").as("closeness_ppm"))
      .orderBy(col("seed"))

  /** The per-seed round-capped BFS the seed readouts aggregate over:
    * (seed, node, min-depth) for every node within `rounds` hops of an
    * md5-'00' seed on the strong-tie subgraph, each seed its own class. */
  private def seedBfsVisited(lineitem: DataFrame, rounds: Int,
                             minWeight: Long,
                             edges0: Option[DataFrame]): DataFrame =
    bfs(strongTies(edges0.getOrElse(coOrderEdges(lineitem)), minWeight),
      seedSample(lineitem).select(col("node").as("seed"), col("node")),
      rounds)

  /** ECCENTRICITY AT HORIZON from md5 seeds (round 16) — the diameter-
    * side companion of [[closenessFromSeeds]]' centrality: per seed,
    * the LONGEST shortest path observed within the round cap (exact
    * eccentricity needs all-pairs shortest paths — never at 100 TB;
    * the horizon-capped form is what a topology monitor actually
    * tracks, and ecc = `rounds` reads as "≥ rounds", flagged by
    * `at_horizon`). Same seed sample, same per-seed BFS state shape
    * and cost as closeness — one extra ≤|seeds| aggregation.
    *
    * Output: (seed, n_reached, ecc, at_horizon), ordered by seed;
    * ecc = 0 for an isolated seed. */
  def eccentricityFromSeeds(lineitem: DataFrame, rounds: Int = 4,
                            minWeight: Long = 2L,
                            edges0: Option[DataFrame] = None): DataFrame =
    seedBfsVisited(lineitem, rounds, minWeight, edges0)
      .groupBy(col("seed"))
      .agg((count(lit(1)) - 1).as("n_reached"),
        max(col("depth")).as("ecc"))
      .select(col("seed"), col("n_reached"), col("ecc"),
        (col("ecc") === rounds.toLong).as("at_horizon"))
      .orderBy(col("seed"))

  /** HARMONIC CENTRALITY AT HORIZON from md5 seeds (round 16) — the
    * third readout off the shared seed BFS ([[closenessFromSeeds]]
    * sums depths, [[eccentricityFromSeeds]] maxes them, harmonic sums
    * RECIPROCALS): H(s) = Σ 1/d(s, v), the centrality that handles
    * disconnected graphs gracefully (an unreachable node contributes
    * 0, not an undefined term — the reason Boldi–Vigna recommend it
    * over closeness on web-scale graphs). EXACT because the horizon
    * caps depths at `rounds` = 4 and lcm(1..4) = 12: harmonic_x12 =
    * Σ 12 div d is an integer sum with zero truncation. Same BFS
    * state and cost as its two siblings — one extra ≤|seeds|
    * aggregation.
    *
    * Output: (seed, n_reached, harmonic_x12), ordered by seed;
    * an isolated seed reads (0, 0). */
  def harmonicFromSeeds(lineitem: DataFrame, rounds: Int = 4,
                        minWeight: Long = 2L,
                        edges0: Option[DataFrame] = None): DataFrame = {
    require(rounds == 4, "harmonic_x12 scaling is pinned to lcm(1..4)")
    seedBfsVisited(lineitem, rounds, minWeight, edges0)
      .groupBy(col("seed"))
      .agg((count(lit(1)) - 1).as("n_reached"),
        coalesce(sum(when(col("depth") > 0L,
          expr("12 div depth")).otherwise(0L)), lit(0L))
          .as("harmonic_x12"))
      .orderBy(col("seed"))
  }

  /** KATZ CENTRALITY, β = 1/2, horizon 4 (round 16) — the walk-count
    * centrality between [[degreeDistribution]]'s local readout and
    * [[pageRank]]'s stationary one: score(v) = Σ_k β^k·walks_k(v),
    * counting ALL walks (not paths — revisits included, the standard
    * Katz definition) of length ≤ 4 ending at v on the strong-tie
    * subgraph. ENGINE-EXACT by construction: β = 1/2 with the horizon
    * at 4 makes 16·score = 8·w₁ + 4·w₂ + 2·w₃ + w₄ a pure BIGINT —
    * no damping-factor floats anywhere (the geometric decay is a
    * bit-shift). Each iteration is one sparse matvec (edge join +
    * sum), the [[pageRank]] shape; walk counts grow as d̄^k, so the
    * horizon doubles as the overflow guard (documented headroom:
    * d̄ ≤ 10⁴ keeps w₄·8 under int64).
    *
    * Output: top `k` (node, katz_x16), ordered (katz DESC, node). */
  def katzWalks(lineitem: DataFrame, rounds: Int = 4, k: Int = 30,
                minWeight: Long = 2L,
                edges0: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"bad rounds=$rounds")
    val ties = strongTies(edges0.getOrElse(coOrderEdges(lineitem)), minWeight)
    // walks(k − 1) = (node, w_k): one sparse matvec per step
    val walks = supersteps(ties.select(col("src").as("node")).distinct()
        .withColumn("cnt", lit(1L)), rounds) { c =>
      ties.join(c.select(col("node").as("src"), col("cnt").as("pc")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("pc")).as("cnt"))
        .select(col("dst").as("node"), col("cnt"))
    }
    walks.zipWithIndex.map { case (w, i) =>
        w.select(col("node"), (col("cnt") * (1L << (rounds - 1 - i))).as("s"))
      }.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("s")).as("katz_x16"))
      .orderBy(col("katz_x16").desc, col("node"))
      .limit(k)
  }

  /** RESOURCE-ALLOCATION link scores (round 16) — the EXACT-rational
    * sibling of [[adamicAdar]]: each common neighbor z of edge (a, b)
    * contributes 1/deg(z) (Zhou–Lü–Zhang), which unlike AA's 1/log
    * needs NO transcendental surrogate — the per-neighbor weight is
    * the exact integer `1000000 div deg(z)` and the score a
    * map-side-combinable SUM of exact terms (term-order-free: integer
    * addition commutes, the via-string doctrine's trivial case).
    * Same donation shape as AA: common neighbors ride the shared
    * triangle enumeration, degrees attach by one broadcast join.
    * Top `k` by (score DESC, a, b).
    *
    * Output: (a, b, cn, ra_score_ppm), ordered by rank. */
  def resourceAllocation(lineitem: DataFrame, k: Int = 20,
                         scope: CacheScope = CacheScope.off,
                         edges0: Option[DataFrame] = None,
                         tri0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(scope.track(coOrderEdges(lineitem)))
      .select(col("a"), col("b"))
    val tri = tri0.getOrElse(orientedTriangles(e))
    val deg = nodeDegrees(e)
    donations(tri)
      .join(broadcast(deg.select(col("node").as("cnb"), col("deg"))), Seq("cnb"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div deg")).as("ra_score_ppm"))
      .orderBy(col("ra_score_ppm").desc, col("a"), col("b"))
      .limit(k)
  }

  /** GLOBAL TRANSITIVITY (round 16) — the one-number closure ratio
    * beside [[clusteringCoeff]]'s per-node readout: C = 3·triangles /
    * wedges (a wedge is an unordered path of length 2 — deg·(deg−1)/2
    * per center node; each triangle closes exactly 3 of them). The
    * per-node local coefficient averages small-degree noise in; the
    * GLOBAL ratio weights hubs by their wedge count — the two
    * disagree exactly when the graph has degree skew, which is why
    * monitors track both. Rides the shared edge + triangle memos:
    * the marginal cost is two bounded aggregations (the deg·(deg−1)
    * product is exact — div 2 never truncates, the product is even).
    *
    * Output: one row (n_nodes, n_edges, n_wedges, n_triangles,
    * transitivity_ppm = 3·10⁶·triangles div wedges). */
  def transitivity(lineitem: DataFrame,
                   edges0: Option[DataFrame] = None,
                   tri0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(coOrderEdges(lineitem))
      .select(col("a"), col("b"))
    val tri = tri0.getOrElse(orientedTriangles(e))
    val degAgg = nodeDegrees(e).agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(expr("(deg * (deg - 1L)) div 2")), lit(0L))
          .as("n_wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nt = tri.agg(count(lit(1)).as("n_triangles"))
    degAgg.crossJoin(broadcast(ne)).crossJoin(broadcast(nt))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("CAST((n_triangles * 3000000) div nullif(n_wedges, 0L) " +
          "AS BIGINT)").as("transitivity_ppm"))
  }

  /** Common-neighbor donations of an [[orientedTriangles]] relation:
    * each triangle (x, y, z) donates z to edge (x, y), y to (x, z) and
    * x to (y, z), endpoints normalized a < b (part keys, not the degree
    * order). Output: (a, b, cnb). */
  private def donations(tri: DataFrame): DataFrame =
    tri.select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"), col("z").as("cnb")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b"), col("y").as("cnb")),
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b"), col("x").as("cnb"))))
        .as("d"))
      .select(col("d.a").as("a"), col("d.b").as("b"), col("d.cnb").as("cnb"))

  private[graft] def degreeOriented(e: DataFrame): DataFrame = {
    val deg = nodeDegrees(e)
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // the degree frame is node-bounded (dimension-sized next to the
    // edge relation) — broadcast it so orientation is two narrow
    // map-side joins, not two shuffles of the full edge list; at a
    // scale where nodes outgrow broadcast, drop the hint and the same
    // plan degrades gracefully to shuffle joins
    e.join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
  }

  /** Triangle counting over the co-occurrence graph: per-node triangle
    * participation for the top `k` nodes plus exact integer counts.
    * Enumeration is the DEGREE-ORDERED oriented join (round 11): each
    * undirected edge is directed from its lower-(degree, id) endpoint,
    * and a triangle is built exactly once from the two out-edges of its
    * lowest endpoint in that total order plus the closing out-edge.
    * The orientation is what survives skew: every out-neighbor of `u`
    * has degree ≥ deg(u), so out-degree is bounded by √(2·|E|) on ANY
    * graph — a hub keeps its fan-out as IN-edges and the wedge
    * self-join on `u` never explodes (raw id-ordering lets a
    * small-id hub keep all its edges outgoing: Θ(deg²) wedges — the
    * 100×-scale killer; see the env-gated skew stress in GraphSpec /
    * BASELINE.md). The extra input is one node-bounded degree frame,
    * joined on the edge key (auto-broadcast when it fits); the heavy
    * steps stay two equi-joins on node keys, both shuffle-partitionable.
    * Per-node counts are orientation-invariant, so the SQL oracle is
    * unchanged.
    *
    * Output: top `k` (part, n_triangles) by (count desc, part). */
  def triangles(lineitem: DataFrame, k: Int = 20,
                scope: CacheScope = CacheScope.off,
                edges0: Option[DataFrame] = None,
                tri0: Option[DataFrame] = None): DataFrame = {
    // the oriented enumeration consumes the edge list three times (two
    // wedge legs + the closing leg) plus the degree build — scope-persist
    // so the 3-shuffle edge build runs once, not per consumer; `edges0`
    // supplies a caller-materialized [[coOrderEdges]] relation instead
    // (lifecycle owned by the caller), and `tri0` a caller-materialized
    // [[orientedTriangles]] relation (round 12: the wedge join itself
    // is shared with [[neighborJaccard]] — enumerate once, read twice)
    val tri = tri0.getOrElse(orientedTriangles(
      edges0.getOrElse(scope.track(coOrderEdges(lineitem)))
        .select(col("a"), col("b"))))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(k)
  }

  /** ADAMIC–ADAR link scores, bit-length form (round 15) — the
    * degree-discounted sibling of [[neighborJaccard]]: a common
    * neighbor that is itself a hub says little about affinity, so each
    * common neighbor z of edge (a, b) contributes 1/log(deg z) rather
    * than 1. The weight here is the EXACT integer surrogate
    * `1000000 div bitlen(deg z)` (bit length ≈ log₂ on a 64-bit-bounded
    * grid — the Kendall/TV-drift doctrine: transcendental log() is not
    * bit-portable across engines, the bit-length staircase is). Common
    * neighbors come free from the shared triangle enumeration (each
    * triangle donates its third vertex to each of its edges); the
    * degree attach is one broadcast node-bounded join; the score is a
    * map-side-combinable integer SUM. Top `k` by (score DESC, a, b).
    *
    * Output: (a, b, cn, aa_score_ppm), ordered by rank. */
  def adamicAdar(lineitem: DataFrame, k: Int = 20,
                 scope: CacheScope = CacheScope.off,
                 edges0: Option[DataFrame] = None,
                 tri0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(scope.track(coOrderEdges(lineitem)))
      .select(col("a"), col("b"))
    val tri = tri0.getOrElse(orientedTriangles(e))
    val deg = nodeDegrees(e)
    donations(tri)
      .join(broadcast(deg.select(col("node").as("cnb"), col("deg"))), Seq("cnb"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div CAST(length(bin(deg)) AS BIGINT)"))
          .as("aa_score_ppm"))
      .orderBy(col("aa_score_ppm").desc, col("a"), col("b"))
      .limit(k)
  }

  /** RICH-CLUB coefficients (round 15) — does the high-degree core
    * wire to itself? φ(kmin) = |edges with both endpoints of degree >
    * kmin| / C(n_k, 2), evaluated on the bit-length degree grid
    * (thresholds 2^t − 1, t = 1..max — the bounded-grid doctrine: a
    * per-integer-k curve is degree-domain-shaped, the octave curve is
    * ≤ 64 rows unconditionally). Exact integers: node degrees, edge
    * survivals per threshold (each edge contributes to every octave
    * below min(bitlen(da), bitlen(db)) — one bounded explode), pair
    * denominators in DECIMAL; ratio in ppm. A rising φ with k is the
    * "rich club" — hubs preferentially interconnected, the structural
    * fact that decides whether hub-sampling biases a crawl.
    *
    * Output: (t, kmin, n_nodes, n_edges, phi_ppm), ordered by t. */
  def richClub(lineitem: DataFrame,
               edges0: Option[DataFrame] = None): DataFrame = {
    val e = edges0.getOrElse(coOrderEdges(lineitem)).select(col("a"), col("b"))
    val deg = nodeDegrees(e)
    val degB = deg.withColumn("t", expr("CAST(length(bin(deg)) AS BIGINT)"))
    // node survives threshold t iff deg > 2^t - 1 iff bitlen(deg) > t:
    // nodes per octave threshold (bounded explode over t = 1..bitlen-1)
    val nodesAt = degB
      // guard t > 1: sequence(1, 0) runs DESCENDING in Spark — a
      // degree-1 node survives no octave threshold
      .filter(col("t") > 1L)
      .select(explode(sequence(lit(1L), col("t") - 1)).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_nodes"))
    val edgesAt = e
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))),
        Seq("b"))
      .select(least(expr("CAST(length(bin(da)) AS BIGINT)"),
        expr("CAST(length(bin(db)) AS BIGINT)")).as("tmin"))
      .filter(col("tmin") > 1L)
      .select(explode(sequence(lit(1L), col("tmin") - 1)).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_edges"))
    nodesAt.join(edgesAt, Seq("t"), "left")
      .select(col("t"), expr("shiftleft(1L, CAST(t AS INT)) - 1L")
          .as("kmin"),
        col("n_nodes"), coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        expr("(coalesce(n_edges, 0L) * 2000000) div " +
          "nullif(n_nodes * (n_nodes - 1), 0L)").as("phi_ppm"))
      .orderBy(col("t"))
  }
}
