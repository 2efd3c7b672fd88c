package graft

import graft.operators.Graph

/** Graph family: co-occurrence edge construction, fixed-point PageRank
  * (hand-replayed integer arithmetic), oriented triangle counting. */
class GraphSpec extends SparkSpec {

  /** lineitem-shaped frame: each order is a clique over its parts. */
  private def li(orders: (Long, Seq[Long])*) = {
    import spark.implicits._
    orders.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")
  }

  test("coOrderEdges: cliques per order, a<b once, co-order weights") {
    val edges = Graph.coOrderEdges(li(
        1L -> Seq(1L, 2L, 3L), 2L -> Seq(2L, 3L), 3L -> Seq(2L, 3L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edges == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 3L))
  }

  test("pageRank: hand-replayed fixed-point values on a path graph; " +
    "isolated node keeps the teleport term only") {
    // graph: 1-2, 2-3 (path), 4 isolated. N=4, S=10^12
    val out = Graph.pageRank(li(1L -> Seq(1L, 2L), 2L -> Seq(2L, 3L),
        3L -> Seq(4L)), iters = 2, k = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val S = 1000000000000L
    val n = 4L
    val tele = (15 * S) / (100 * n)
    // r0 = S/4 for all. deg: 1->1, 2->2, 3->1, 4->0
    val r0 = S / n
    def it(r1: Long, r2: Long, r3: Long): (Long, Long, Long) = {
      val c1 = r2 / 2                 // from 2
      val c2 = r1 / 1 + r3 / 1        // from 1 and 3
      val c3 = r2 / 2
      (tele + (85 * c1) / 100, tele + (85 * c2) / 100, tele + (85 * c3) / 100)
    }
    val (a1, b1, c1) = it(r0, r0, r0)
    val (a2, b2, c2) = it(a1, b1, c1)
    assert(out(1L) == (1L, a2))
    assert(out(2L) == (2L, b2))
    assert(out(3L) == (1L, c2))
    assert(out(4L) == (0L, tele), "isolated node must be teleport-only")
    // truncating arithmetic only loses mass, never creates it
    assert(out.values.map(_._2).sum <= S)
  }

  test("pageRank is repartition-invariant (exact integers under any " +
    "partial-aggregation order)") {
    val docs = li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(3L, 4L), 3L -> Seq(4L, 1L))
    val a = Graph.pageRank(docs, iters = 2, k = 10).collect().toSeq
    val b = Graph.pageRank(docs.repartition(7), iters = 2, k = 10)
      .collect().toSeq
    assert(a == b)
  }

  test("triangles: K4 order yields 3 per member and nothing for a " +
    "dangling edge; cross-order triangles count too") {
    // order 1 = K4 over {1,2,3,4}; order 2 adds edge 4-5 (no triangle);
    // orders 3+4+5 build triangle {6,7,8} across DIFFERENT orders
    val out = Graph.triangles(li(
        1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(4L, 5L),
        3L -> Seq(6L, 7L), 4L -> Seq(7L, 8L), 5L -> Seq(6L, 8L)), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      6L -> 1L, 7L -> 1L, 8L -> 1L), s"got $out")
  }

  test("affinityRules: hand-computed support/confidence/lift — the " +
    "always-together pair outranks the merely-frequent one") {
    // 4 orders: {1,2} {1,2} {1,3} {3}; N=4.
    // pair (1,2): w=2, n1=3, n2=2 -> lift 2*4/(3*2)=1.333…
    // pair (1,3): w=1, n1=3, n3=2 -> lift 1*4/(3*2)=0.666…
    val out = Graph.affinityRules(li(
        1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L, 3L),
        4L -> Seq(3L)), k = 10).collect()
    assert(out.length == 2)
    val top = out.head
    assert((top.getLong(0), top.getLong(1), top.getLong(2)) == ((1L, 2L, 2L)))
    assert(top.getDouble(5) == 2.0 / 3.0 && top.getDouble(6) == 1.0)
    assert(top.getDouble(7) == (2.0 * 4.0) / (3.0 * 2.0))
    assert(out(1).getDouble(7) == (1.0 * 4.0) / (3.0 * 2.0))
  }

  test("components: size histogram with structural singletons — a " +
    "triangle, a cross-order path, and an isolated part") {
    // component A: {1,2,3} (one order); component B: {4,5,6} chained
    // across two orders; part 7 appears alone in an order → isolated
    // (degree 0) but STRUCTURALLY present as a singleton
    val out = Graph.components(li(
        1L -> Seq(1L, 2L, 3L), 2L -> Seq(4L, 5L), 3L -> Seq(5L, 6L),
        4L -> Seq(7L)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(1L -> ((1L, 1L)), 3L -> ((2L, 6L))), s"got $out")
  }

  test("clusteringCoeff: hand-checked coefficients — K4 members 1.0, " +
    "a bridge node mixes, degree-1 nodes excluded, triangle-free 0.0") {
    // K4 over {1,2,3,4}; node 4 also bridges to 5 (deg(4)=4, tri(4)=3
    // -> 2*3/(4*3)=0.5); 5-6 dangling path: 5 has deg 2, 0 triangles
    // -> structural 0.0; 6 has deg 1 -> excluded
    val out = Graph.clusteringCoeff(li(
        1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(4L, 5L), 3L -> Seq(5L, 6L)),
        k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 3L, 1.0)), 3L -> ((3L, 3L, 1.0)),
      4L -> ((4L, 3L, 0.5)), 5L -> ((2L, 0L, 0.0))), s"got $out")
    // rank order: coeff DESC then part ASC
    val order = Graph.clusteringCoeff(li(
        1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(4L, 5L), 3L -> Seq(5L, 6L)),
        k = 10).collect().map(_.getLong(0)).toSeq
    assert(order == Seq(1L, 2L, 3L, 4L, 5L), s"got $order")
  }

  test("degree-ordered orientation bounds wedge fan-out on a skewed " +
    "star: the small-id hub keeps ZERO out-edges (id-ordering would " +
    "keep all of them), out-degree ≤ √(2·|E|) graph-wide, counts exact") {
    import org.apache.spark.sql.functions.col
    // hub = part 1 (the SMALLEST id — the id-ordering worst case) in 60
    // orders, one leaf each; plus one triangle {2, 3, 4} via three
    // 2-part orders so the output is non-empty
    val leaves = (100L to 159L)
    val rows = leaves.zipWithIndex.map { case (p, i) =>
      (i + 1000L) -> Seq(1L, p)
    } ++ Seq(2000L -> Seq(2L, 3L), 2001L -> Seq(3L, 4L), 2002L -> Seq(2L, 4L))
    val docs = li(rows: _*)
    val out = Graph.triangles(docs, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 1L, 3L -> 1L, 4L -> 1L), s"got $out")
    val e = Graph.coOrderEdges(docs).select(col("a"), col("b"))
    val m = e.count()
    val outDeg = Graph.degreeOriented(e)
      .groupBy(col("u")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the hub (deg 60 + triangle-free edges) has the strictly highest
    // (deg, id) key, so every incident edge points INTO it
    assert(!outDeg.contains(1L),
      s"hub kept out-edges under degree ordering: ${outDeg.get(1L)}")
    val bound = math.sqrt(2.0 * m)
    outDeg.foreach { case (u, d) =>
      assert(d <= bound, s"node $u out-degree $d exceeds √(2m)=$bound")
    }
  }

  test("neighborJaccard: hand-computed scores on a K4-plus-pendant, " +
    "triangle-free edges score zero, repartition-invariant") {
    // order 1 = K4 over {1,2,3,4}: every edge has cn=2, open union
    // = 3+3-2-2 = 2 → jaccard 1.0; order 2 adds pendant edge (4,9):
    // cn 0, union = (4-1)+(1-1)-0 = 3 → 0.0
    val fix = li(1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(4L, 9L))
    val out = Graph.neighborJaccard(fix, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((1L, 2L)) == ((2L, 2L, 1.0)), s"got ${out((1L, 2L))}")
    // edges inside {1,2,3} score 1; node 4 carries the pendant, so
    // deg(4)=4 and its K4 edges dilute to 2/(2+3-2) = 2/3
    assert(Seq((1L, 2L), (1L, 3L), (2L, 3L))
      .forall(k => out(k) == ((2L, 2L, 1.0))))
    assert(Seq((1L, 4L), (2L, 4L), (3L, 4L))
      .forall(k => out(k) == ((2L, 3L, 2.0 / 3))), s"got ${out((1L, 4L))}")
    assert(out((4L, 9L)) == ((0L, 3L, 0.0)),
      "pendant edge must score a structural zero")
    val liT = Tables.lineitem(spark, sf0)
    val a = Graph.neighborJaccard(liT).collect()
    assert(a.length == 20 && a.forall(r =>
      r.getDouble(4) >= 0 && r.getDouble(4) <= 1.0))
    assert(a.toSeq ==
      Graph.neighborJaccard(liT.repartition(13)).collect().toSeq)
  }

  test("degreeDistribution: hand-checked histogram with a structural " +
    "zero-degree node, handshake sum, repartition-invariant") {
    // order 1 = triangle {1,2,3}; order 2 repeats pair (2,3); part 9
    // only ever appears alone → degree 0
    val fix = li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(2L, 3L), 3L -> Seq(9L))
    val out = Graph.degreeDistribution(fix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // degrees: 1→2 (pairs with 2,3); 2→2; 3→2; 9→0
    assert(out == Map(0L -> 1L, 2L -> 3L), s"got $out")
    // corpus invariants: node cover + handshake lemma vs the edge set
    val liT = Tables.lineitem(spark, sf0)
    val hist = Graph.degreeDistribution(liT).collect()
    val nParts = liT.select("l_partkey").distinct().count()
    assert(hist.map(_.getLong(1)).sum == nParts)
    val m = Graph.coOrderEdges(liT).count()
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * m,
      "Σ degree·n must equal 2·|edges|")
    assert(hist.toSeq ==
      Graph.degreeDistribution(liT.repartition(13)).collect().toSeq)
  }

  test("kCore: pendant chain peels away to the triangle core; an " +
    "unconverged graph fails loudly") {
    // triangle {1,2,3} + pendant path 3-4-5: peeling removes 5 then 4,
    // the triangle survives with core degree 2 everywhere
    val out = Graph.kCore(li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(3L, 4L),
      3L -> Seq(4L, 5L))).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)), out.toSeq)
    // a 20-node path needs ~10 peel rounds; at 8 the convergence gate
    // must abort with the diagnosis rather than ship a bloated core
    val path = li((1L to 19L).map(i => i -> Seq(i, i + 1)): _*)
    val e = intercept[Exception] { Graph.kCore(path).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("did not converge")),
      s"expected the convergence diagnosis, got ${messages(e).mkString(" | ")}")
  }

  test("bfsLayers: hand path graph — layered depths, weak edge ignored, " +
    "isolated node unreached") {
    // 168 is an md5-'00' seed (the only one among these ids). Strong
    // (w >= 2) path 168—500—501; 501—502 co-occurs once (weak, must
    // not expand); 900/901 co-occur once (isolated from the seed).
    // Expected: d0 = {168}, d1 = {500}, d2 = {501}, unreached =
    // {502, 900, 901}.
    val rows = Graph.bfsLayers(li(
        1L -> Seq(168L, 500L), 2L -> Seq(168L, 500L),
        3L -> Seq(500L, 501L), 4L -> Seq(500L, 501L),
        5L -> Seq(501L, 502L), 6L -> Seq(900L, 901L)),
      rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(-1L -> 3L, 0L -> 1L, 1L -> 1L, 2L -> 1L),
      s"got $rows")
  }

  test("assortativity: star graph scores exactly -1000 milli, " +
    "degree-regular graph yields NULL") {
    // star: hub 1 with leaves 2,3,4 — r = −1 for any star
    val star = Graph.assortativity(li(
      1L -> Seq(1L, 2L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 4L))).collect().head
    assert(star.getLong(0) == 6L)
    assert(star.getLong(1) == -36L && star.getLong(2) == 36L)
    assert(star.getLong(3) == -1000L)
    // single edge: both endpoints degree 1 — den = 0, NULL correlation
    val reg = Graph.assortativity(li(1L -> Seq(1L, 2L))).collect().head
    assert(reg.getLong(2) == 0L && reg.isNullAt(3))
  }

  test("labelPropagation: hand-simulated 2-superstep communities on " +
    "two cliques with a bridge") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10; synchronous LPA with
    // (count DESC, label ASC) tie-break gives after 2 supersteps:
    // labels 1→1 2→1 3→1 (community 1, n=3); 11→3 12→3 (community 3,
    // n=2); 10→10 (community 10, n=1) — simulated by hand
    val fx = li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(10L, 11L, 12L),
      3L -> Seq(3L, 10L))
    val out = Graph.labelPropagation(fx).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 3L), (3L, 2L), (10L, 1L)), out.toSeq)
    // superstep determinism: repartitioning must not move any label
    assert(out.toSeq ==
      Graph.labelPropagation(fx.repartition(13)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("modularity: two disjoint triangles score exactly Q = 0.5 with " +
    "full intra coverage; one clique scores 0") {
    // LPA resolves each triangle to one community; m=6, per community
    // in=3 deg=6 → Q·4m² = 2·(4·6·3 − 36) = 72 → Q = 72/144
    val fx = li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(4L, 5L, 6L))
    val r = Graph.modularity(fx).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 2L, 1000000L)),
      s"got $r")
    assert(r.getDouble(3) == 0.5, s"Q ${r.getDouble(3)}")
    // a single community over everything: Q = m/m − (2m/2m)² = 0
    val one = Graph.modularity(li(1L -> Seq(1L, 2L, 3L))).collect().head
    assert(one.getDouble(3) == 0.0 && one.getLong(1) == 1L, s"got $one")
  }

  test("degreeGini: uniform degrees read 0, a hub-dominated star is " +
    "strictly positive with the exact hand numerator") {
    // triangle: every node degree 2 -> perfect equality, gini 0
    val tri = li(1L -> Seq(1L, 2L, 3L))
    val rt = Graph.degreeGini(tri).collect().head
    assert(rt.toSeq.take(3) == Seq(3L, 6L, 0L) && rt.getDouble(3) == 0.0,
      rt)
    // star 1-(2,3,4) built from pair orders: degrees 3,1,1,1 — n=4,
    // S=6; value-grouped: v=1 cnt=3 clt=0, v=3 cnt=1 clt=3
    // rw = 1*(0+6) + 3*(3+1) = 18; num = 36 - 5*6 = 6; gini = 6/24
    val star = li(1L -> Seq(1L, 2L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 4L))
    val rs = Graph.degreeGini(star).collect().head
    assert(rs.toSeq.take(3) == Seq(4L, 6L, 6L), rs)
    assert(rs.getDouble(3) == 0.25, rs.getDouble(3))
  }

  test("weightHistogram: bit-length buckets, the strong-tie count " +
    "matches the minWeight survivors") {
    // edge (1,2) co-ordered 3x (bucket 2), (1,3)/(2,3) once (bucket 1)
    val g = li(1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L, 2L, 3L))
    val out = Graph.weightHistogram(g).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((2L, 1L, 1L, 2L, 0L)), out)   // two w=1 edges
    assert(out(2L) == ((1L, 3L, 3L, 3L, 1L)), out)   // one w=3, strong
    // Σ n_strong across buckets == the strong-tie edge count the BFS
    // keys run on
    assert(out.values.map(_._5).sum ==
      Graph.coOrderEdges(g)
        .filter(org.apache.spark.sql.functions.col("w") >= 2).count())
  }

  test("closenessFromSeeds: hand chain from an md5-'00' seed — exact " +
    "depths, ppm, and an isolated seed reads NULL") {
    // 168 is the smallest int with md5 prefix '00' (the seed rule);
    // strong-tie chain 168—1—2 (each edge co-ordered twice)
    val chain = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L))
    val r = Graph.closenessFromSeeds(chain).collect()
    assert(r.length == 1 && r.head.getLong(0) == 168L)
    // depths 0/1/2: reached 2 nodes, sum 3, ppm = 2e6 div 3
    assert(r.head.toSeq == Seq(168L, 2L, 3L, 666666L), r.head)
    // seed present but every edge weak (single co-order): isolated
    val weak = li(1L -> Seq(168L, 1L), 2L -> Seq(1L, 2L))
    val rw = Graph.closenessFromSeeds(weak).collect().head
    assert(rw.getLong(1) == 0L && rw.isNullAt(3), rw)
  }

  test("eccentricityFromSeeds: hand chain — ecc is the longest " +
    "shortest path, the horizon flag bites only at the round cap, an " +
    "isolated seed reads ecc 0") {
    // strong-tie chain 168—1—2 (seed rule: 168 has md5 prefix '00')
    val chain = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L))
    val r = Graph.eccentricityFromSeeds(chain).collect()
    assert(r.length == 1 &&
      r.head.toSeq == Seq(168L, 2L, 2L, false), r.head)
    // 5-node chain 168—1—2—3—4 at rounds=4: ecc reaches the cap and
    // the at_horizon flag reads "≥ rounds"
    val long = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L),
      5L -> Seq(2L, 3L), 6L -> Seq(2L, 3L),
      7L -> Seq(3L, 4L), 8L -> Seq(3L, 4L))
    val rl = Graph.eccentricityFromSeeds(long).collect().head
    assert(rl.toSeq == Seq(168L, 4L, 4L, true), rl)
    // every edge weak: isolated seed, ecc 0
    val weak = li(1L -> Seq(168L, 1L), 2L -> Seq(1L, 2L))
    val rw = Graph.eccentricityFromSeeds(weak).collect().head
    assert(rw.toSeq == Seq(168L, 0L, 0L, false), rw)
  }

  test("transitivity: K4 closes every wedge (ppm 1e6); a pendant " +
    "adds open wedges and dilutes the global ratio") {
    val k4 = Graph.transitivity(li(1L -> Seq(1L, 2L, 3L, 4L)))
      .collect().head
    // 4 nodes, 6 edges, 12 wedges, 4 triangles → C = 1
    assert(k4.toSeq == Seq(4L, 6L, 12L, 4L, 1000000L), k4.toSeq.toString)
    // K3 {1,2,3} + pendant 4 on 1: wedges 3+1+1 = 5, one triangle
    val p = Graph.transitivity(
      li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 4L))).collect().head
    assert(p.toSeq == Seq(4L, 4L, 5L, 1L, 600000L), p.toSeq.toString)
  }

  test("harmonicFromSeeds: 5-node chain — Σ 12/d exact at every " +
    "depth, isolated seed reads zero") {
    val long = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L),
      5L -> Seq(2L, 3L), 6L -> Seq(2L, 3L),
      7L -> Seq(3L, 4L), 8L -> Seq(3L, 4L))
    val r = Graph.harmonicFromSeeds(long).collect().head
    // depths 1..4 → 12 + 6 + 4 + 3 = 25
    assert(r.toSeq == Seq(168L, 4L, 25L), r)
    val weak = li(1L -> Seq(168L, 1L), 2L -> Seq(1L, 2L))
    val rw = Graph.harmonicFromSeeds(weak).collect().head
    assert(rw.toSeq == Seq(168L, 0L, 0L), rw)
  }

  test("katzWalks: strong path 168—1—2 — exact walk counts with " +
    "revisits, bit-shift decay, (score, node) tie-break") {
    val chain = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L))
    val out = Graph.katzWalks(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // w-vectors: w1=(1,2,1), w2=(2,2,2), w3=(2,4,2), w4=(4,4,4) for
    // (168, 1, 2) → 16·katz = (24, 36, 24); ties order by node
    assert(out.toSeq == Seq((1L, 36L), (2L, 24L), (168L, 24L)),
      out.mkString(", "))
  }

  test("resourceAllocation: each common neighbor contributes exactly " +
    "1e6 div deg — no bit-length staircase, K4 vs K3-pendant split") {
    // K4: every edge has 2 common neighbors of degree 3 →
    // ra = 2·(1e6 div 3) = 666666, cn = 2
    val k4 = Graph.resourceAllocation(li(1L -> Seq(1L, 2L, 3L, 4L)),
      k = 10).collect()
    assert(k4.length == 6)
    assert(k4.forall(r => r.getLong(2) == 2L && r.getLong(3) == 666666L),
      k4.mkString("\n"))
    // K3 {1,2,3} + pendant 4 on node 1: edge (2,3)'s common neighbor 1
    // has degree 3 → 333333; edges (1,2)/(1,3) donate a degree-2
    // neighbor → 500000 — the 1/deg weight SEPARATES what AA's
    // bit-length staircase collapsed (both read 500000 there)
    val p = Graph.resourceAllocation(
      li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 4L)), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(p((2L, 3L)) == 333333L && p((1L, 2L)) == 500000L &&
      p((1L, 3L)) == 500000L, p.toString)
  }

  test("adamicAdar: each common neighbor contributes 1e6 div bitlen(deg) " +
    "— K4's edges score 2x the K3-with-pendant's single donation") {
    // K4 on {1,2,3,4}: every edge has 2 common neighbors of degree 3
    // (bitlen 2) -> aa = 2 * (1e6 div 2) = 1000000, cn = 2
    val k4 = Graph.adamicAdar(li(1L -> Seq(1L, 2L, 3L, 4L)), k = 10)
      .collect()
    assert(k4.length == 6)
    assert(k4.forall(r => r.getLong(2) == 2L && r.getLong(3) == 1000000L),
      k4.mkString("\n"))
    // K3 {1,2,3} + pendant 4 on node 1: edge (2,3)'s common neighbor 1
    // has degree 3 (bitlen 2) -> 500000; edges (1,2)/(1,3) donate a
    // degree-2 neighbor (bitlen 2) -> 500000 as well, cn = 1 each
    val p = Graph.adamicAdar(li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 4L)),
      k = 10).collect()
    assert(p.length == 3)
    assert(p.forall(r => r.getLong(2) == 1L && r.getLong(3) == 500000L),
      p.mkString("\n"))
  }

  test("richClub: a clique core plus pendants reads phi = 1 at the top " +
    "octave; a star graph has no rich club at all") {
    // K4 {1,2,3,4} via one order, plus a pendant on each clique node
    // (orders 2-5): clique degrees 4 (bitlen 3), pendant degrees 1
    // (bitlen 1). t=1: nodes deg>1 = the 4 clique nodes, edges among
    // them = 6 -> phi = 12/12 = 1M ppm; t=2: nodes deg>3 = same 4 ->
    // phi = 1M again.
    val rc = Graph.richClub(li(1L -> Seq(1L, 2L, 3L, 4L),
      2L -> Seq(1L, 11L), 3L -> Seq(2L, 12L), 4L -> Seq(3L, 13L),
      5L -> Seq(4L, 14L))).collect()
    assert(rc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, 1L, 4L, 6L, 1000000L), (2L, 3L, 4L, 6L, 1000000L)),
      rc.mkString("\n"))
    // star: hub degree 5 (bitlen 3), leaves 1 -> t=1,2 keep only the
    // hub; one node forms no pair -> phi NULL (0/0 guarded)
    val star = Graph.richClub(li(1L -> Seq(0L, 1L), 2L -> Seq(0L, 2L),
      3L -> Seq(0L, 3L), 4L -> Seq(0L, 4L), 5L -> Seq(0L, 5L))).collect()
    assert(star.forall(r => r.getLong(2) == 1L && r.getLong(3) == 0L &&
      r.isNullAt(4)), star.mkString("\n"))
  }

  test("twoHopReach: hand path graph — ring counts exact, the weak tie " +
    "is invisible, non-seed nodes absent") {
    // 168 is an md5-'00' seed (the bfs sample rule); chain
    // 168—1—2—3 with strong ties (w≥2 = two shared orders) plus a
    // WEAK 168—9 tie (one order) that must not count. 363 is a second
    // md5-'00' seed whose ties are all weak: it reaches nothing, so it
    // is absent (its depth-0 BFS row must not surface as a reach row)
    val fx = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),   // 168-1 strong
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L),       // 1-2 strong
      5L -> Seq(2L, 3L), 6L -> Seq(2L, 3L),       // 2-3 strong (3 hops out)
      7L -> Seq(168L, 9L),                        // weak tie
      8L -> Seq(363L, 2L), 9L -> Seq(363L, 9L))   // weak-only seed
    val out = Graph.twoHopReach(fx).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    // one hop: {1}; two hops: {1, 2} — node 3 is three hops, 9 weak
    assert(r.getLong(0) == 168L && r.getLong(1) == 1L &&
      r.getLong(2) == 2L, r.toSeq.toString)
  }
}
