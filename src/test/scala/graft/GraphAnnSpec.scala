package graft

import graft.operators.{GraphAnn, Similarity}
import org.apache.spark.sql.functions.col

/** The graph-ANN family's contract: deterministic builds,
  * brute-force-exact scores on the candidates it does surface, recall
  * floors single- and multi-shard, degree bounds via the beam
  * parameters, and the no-corpus-broadcast scale property. The serve
  * path additionally carries the driver's full oracle
  * (sim_ann_hnsw_served — exact at validation scale; pinned below). */
class GraphAnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0)

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
      (r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).toMap

  test("nswTopK is deterministic run-to-run and its scores are " +
    "bit-identical to brute force for the same (query, neighbor)") {
    val a = asMap(GraphAnn.nswTopK(emb, nQueries = 10, k = 10))
    val b = asMap(GraphAnn.nswTopK(emb, nQueries = 10, k = 10))
    assert(a == b, "two identical builds disagreed")
    val bf = Similarity.bruteForceTopK(emb, nQueries = 10, k = 499)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cos")).toMap
    a.foreach { case ((q, _), (n, c)) =>
      assert(bf((q, n)) == c, s"score for ($q,$n) diverged from brute force")
    }
  }

  test("recall floor vs brute force, single shard and resharded") {
    val truth = Similarity.bruteForceTopK(emb, nQueries = 10, k = 10)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
      val hits = truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }
      hits.sum.toDouble / truth.values.map(_.size).sum
    }
    val single = recallOf(GraphAnn.nswTopK(
      emb.coalesce(1), nQueries = 10, k = 10))
    assert(single >= 0.8, s"single-shard recall@10 = $single")
    // resharded: every shard searched, per-shard top-k merged — recall
    // holds under the distribution the operator actually runs with
    val sharded = recallOf(GraphAnn.nswTopK(
      emb.repartition(5), nQueries = 10, k = 10))
    assert(sharded >= 0.8, s"5-shard recall@10 = $sharded")
  }

  test("zero-norm vectors never surface; corpus side is never broadcast") {
    import spark.implicits._
    val fix = Seq(
      (0L, Array(1.0f, 0.0f), "a"),
      (1L, Array(0.9f, 0.1f), "a"),
      (2L, Array(0.0f, 0.0f), "z"), // zero norm: undefined cosine
      (3L, Array(0.5f, 0.5f), "b"),
      (4L, Array(-1.0f, 0.2f), "b"))
      .toDF("vec_id", "embedding", "label")
    val out = GraphAnn.nswTopK(fix, nQueries = 2, k = 4)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(!rows.map(_.getAs[Long]("n_id")).contains(2L),
      "zero-norm vector surfaced as a neighbor")
    assert(!rows.map(_.getAs[Long]("q_id")).contains(2L),
      "zero-norm vector ran as a query")
    assert(rows.forall(r => !r.getAs[Double]("cos").isNaN))
    // scale property: the only broadcast is the bounded query array
    // (an sc.broadcast value, invisible to the plan); the corpus rides
    // mapPartitions with no BroadcastExchange anywhere
    val plan = GraphAnn.nswTopK(emb, nQueries = 10, k = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"corpus-sized broadcast in the plan:\n$plan")
  }

  test("hnswTopK (layer hierarchy): deterministic, brute-force-exact " +
    "scores, recall floor, md5 level draws follow the 4^-l law") {
    val a = asMap(GraphAnn.hnswTopK(emb, nQueries = 10, k = 10))
    val b = asMap(GraphAnn.hnswTopK(emb, nQueries = 10, k = 10))
    assert(a == b, "two identical hierarchical builds disagreed")
    val bf = Similarity.bruteForceTopK(emb, nQueries = 10, k = 499)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cos")).toMap
    a.foreach { case ((q, _), (n, c)) =>
      assert(bf((q, n)) == c, s"score for ($q,$n) diverged from brute force")
    }
    // recall floor at the DEFAULT (smaller) beam — the hierarchy's point
    val truth = Similarity.bruteForceTopK(emb, nQueries = 10, k = 10)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val got = GraphAnn.hnswTopK(emb.coalesce(1), nQueries = 10, k = 10)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val recall = truth.map { case (q, t) =>
      (got.getOrElse(q, Set.empty) & t).size }.sum.toDouble /
      truth.values.map(_.size).sum
    assert(recall >= 0.8, s"hierarchical recall@10 = $recall")
    // the deterministic level draw follows the declared distribution:
    // over ids 0..9999, P(level >= 1) must be near 1/4, P(>= 2) near 1/16
    val levels = (0L until 10000L).map(GraphAnn.levelOf(_, 6))
    val p1 = levels.count(_ >= 1).toDouble / levels.size
    val p2 = levels.count(_ >= 2).toDouble / levels.size
    assert(p1 > 0.2 && p1 < 0.3, s"P(level>=1) = $p1, want ~0.25")
    assert(p2 > 0.035 && p2 < 0.09, s"P(level>=2) = $p2, want ~0.0625")
  }

  test("sf0.1 budget/recall probe: the hierarchy reaches >=0.9 recall " +
    "at <=5% scan budget where flat NSW needed 12.8% (env-gated)") {
    assume(sys.env.get("SPARK_GRAFT_STRESS").contains("1"),
      "set SPARK_GRAFT_STRESS=1 to run the sf0.1 graph-ANN probe")
    val emb1 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val rows = Similarity.prepared(emb1).filter(col("nrm") > 0)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Long]]("qv").toArray, r.getAs[Long]("nrm")))
      .sortBy(_._1)
    val n = rows.length
    val queries = rows.take(10)
      .map { case (id, v, nr) => (id, v, math.sqrt(nr.toDouble)) }
    val truth = Similarity.bruteForceTopK(emb1, nQueries = 10, k = 10)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    def probe(maxLevel: Int, ef: Int): (Double, Long) = {
      val idx = new GraphAnn.NswIndex(8, 32, maxLevel)
      rows.foreach { case (id, v, nr) =>
        idx.insert(id, v, math.sqrt(nr.toDouble)) }
      idx.cosEvals = 0L // count search work only, not the build
      val hits = queries.map { case (qId, qv, qs) =>
        val got = idx.search(qv, qs, ef).iterator
          .map { case (_, node) => rows(node)._1 }
          .filter(_ != qId).take(10).toSet
        (got & truth(qId)).size
      }.sum
      val recall = hits.toDouble / truth.values.map(_.size).sum
      (recall, idx.cosEvals)
    }
    // Two budget conventions, both recorded in BASELINE.md:
    //  - beam budget ef/N (what the round-9 12.8% figure measured):
    //    the hierarchy reaches >=0.9 recall at ef=64 = 3.2% where the
    //    flat control needed ef=256 = 12.8%;
    //  - honest cosine-eval meter: beam work is ~ef·2m evals per query
    //    INDEPENDENT of corpus size, so the eval FRACTION at N=2k is
    //    pessimistic (it shrinks ~linearly as shards grow) — the
    //    scale-relevant claim is the RELATIVE work cut vs the flat
    //    control at its matched-recall beam.
    val (hRecall, hEvals) = probe(maxLevel = 6, ef = 64)
    val (fRecall, fEvals) = probe(maxLevel = 0, ef = 256)
    val hBeamBudget = 64.0 / n
    info(f"hierarchical: recall@10 $hRecall%.3f, beam budget " +
      f"$hBeamBudget%.4f, evals/query ${hEvals / queries.length}%.0f")
    info(f"flat ef=256:  recall@10 $fRecall%.3f, beam budget " +
      f"${256.0 / n}%.4f, evals/query ${fEvals / queries.length}%.0f")
    assert(hRecall >= 0.9, s"hierarchical recall $hRecall < 0.9")
    assert(hBeamBudget <= 0.05, s"beam budget $hBeamBudget > 5%")
    assert(fRecall >= 0.9, "flat control no longer reaches its recall")
    assert(hEvals * 2 <= fEvals,
      s"hierarchy did not halve the matched-recall search work: " +
        s"$hEvals vs $fEvals evals")
  }

  private def tmpIndexDir(): String =
    Scratch.dir("graft_hnsw_idx_")
      .resolve("index").toString

  test("served HNSW answers bit-identically to the per-query rebuild, " +
    "and the serve plan scans ONLY the persisted index") {
    val dir = tmpIndexDir()
    GraphAnn.buildHnswIndex(emb, dir)
    val served = GraphAnn.hnswServedTopK(dir, emb, nQueries = 10, k = 10)
    val fresh = GraphAnn.hnswTopK(emb, nQueries = 10, k = 10)
    assert(asMap(served) == asMap(fresh),
      "serve path diverged from the freshly built index")
    // no-rebuild structural property: the only file scan in the serve
    // plan is the index parquet (queries were collected before the
    // plan existed; the corpus is never an input)
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
    // root whose children are not yet expanded for collect()
    val scans = served.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("graft_hnsw_idx_")),
      s"serve plan scanned something beyond the index: $scans")
  }

  test("sim_ann_hnsw_served is EXACT at the driver-gate scale: served " +
    "top-k with efSearch >= corpus equals brute force at sf0.01") {
    // the registered key's oracle is the brute-force replay, which is
    // sound only while the beam is exhaustive (efSearch=512 >= 500
    // vectors -> the res-full termination never fires early); this
    // pins that equality to the exact fixture the driver verifies on,
    // so a fixture growth past efSearch or a connectivity regression
    // fails HERE before it desyncs the correctness gate
    val emb01 = Tables.embeddings(spark, "/root/testdata/sf0.01")
    assert(emb01.count() <= 512,
      "sf0.01 outgrew efSearch=512 — raise the registered key's budget")
    val dir = tmpIndexDir()
    GraphAnn.buildHnswIndex(emb01, dir)
    val served = asMap(
      GraphAnn.hnswServedTopK(dir, emb01, nQueries = 10, k = 10,
        efSearch = 512))
    val bf = asMap(Similarity.bruteForceTopK(emb01, nQueries = 10, k = 10))
    assert(served == bf, "served HNSW diverged from brute force at sf0.01")
  }

  test("persisted adjacency honors the layer caps (layer 0 <= 2m, " +
    "upper layers <= m) — the degree bound, asserted from the index") {
    val dir = tmpIndexDir()
    val m = 8
    GraphAnn.buildHnswIndex(emb, dir, m = m)
    val adj = spark.read.parquet(dir)
      .select(col("adj")).collect()
      .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Int]]](0))
    assert(adj.nonEmpty)
    adj.foreach { layers =>
      layers.zipWithIndex.foreach { case (nbs, lev) =>
        val cap = if (lev == 0) 2 * m else m
        assert(nbs.length <= cap,
          s"layer $lev degree ${nbs.length} exceeds cap $cap")
      }
    }
    // the in-memory meter agrees with the persisted view
    val idx = new GraphAnn.NswIndex(m, 32, 6)
    Similarity.prepared(emb).filter(col("nrm") > 0)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Long]]("qv").toArray, r.getAs[Long]("nrm")))
      .sortBy(_._1)
      .foreach { case (id, v, n) => idx.insert(id, v, math.sqrt(n.toDouble)) }
    assert(idx.maxDegree(0) <= 2 * m && idx.maxDegree(1) <= m)
  }

  test("sf0.1 build-once/serve-many probe: serving skips construction " +
    "entirely (env-gated; wall figures for BASELINE.md)") {
    assume(sys.env.get("SPARK_GRAFT_STRESS").contains("1"),
      "set SPARK_GRAFT_STRESS=1 to run the sf0.1 serve probe")
    // ×10 re-keyed union (20k vectors): at sf0.1's native 2k the JVM
    // overhead hides the construction cost the serve path deletes
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val emb1 = (0 until 10).map(i => base
        .withColumn("vec_id", col("vec_id") + org.apache.spark.sql.functions.lit(i * 100000L)))
      .reduce(_ unionByName _).repartition(2).localCheckpoint()
    val dir = tmpIndexDir()
    val t0 = System.nanoTime()
    GraphAnn.buildHnswIndex(emb1, dir)
    val build = (System.nanoTime() - t0) / 1e9
    def timeIt(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val serves = (1 to 3).map(_ => timeIt(
      GraphAnn.hnswServedTopK(dir, emb1, nQueries = 10, k = 10)
        .write.format("noop").mode("overwrite").save()))
    val rebuilds = (1 to 3).map(_ => timeIt(
      GraphAnn.hnswTopK(emb1, nQueries = 10, k = 10)
        .write.format("noop").mode("overwrite").save()))
    // correctness under the probe's scale too
    assert(asMap(GraphAnn.hnswServedTopK(dir, emb1, nQueries = 10, k = 10))
      == asMap(GraphAnn.hnswTopK(emb1, nQueries = 10, k = 10)))
    info(f"build-once: $build%.1f s; serve min ${serves.min}%.2f s; " +
      f"rebuild-per-query min ${rebuilds.min}%.2f s " +
      f"(serve is ${rebuilds.min / serves.min}%.1fx faster per batch)")
    assert(serves.min < rebuilds.min,
      "serving from the persisted index is not cheaper than rebuilding")
  }

  test("upsertHnswIndex: base-then-delta equals the from-scratch build " +
    "node-for-node, and the upserted index serves identically") {
    val dir = Scratch.dir("graft_hnsw_up_").toString
    val full = emb.filter(col("vec_id") < 60).coalesce(1)
    val base = emb.filter(col("vec_id") < 45).coalesce(1)
    val delta = emb.filter(col("vec_id") >= 45 && col("vec_id") < 60)
      .coalesce(1)
    GraphAnn.buildHnswIndex(full, s"$dir/full", m = 4,
      efConstruction = 48, maxLevel = 6)
    GraphAnn.buildHnswIndex(base, s"$dir/base", m = 4,
      efConstruction = 48, maxLevel = 6)
    GraphAnn.upsertHnswIndex(s"$dir/base", delta, s"$dir/up", m = 4,
      efConstruction = 48, maxLevel = 6)
    def state(p: String) = spark.read.parquet(p)
      .select(col("shard"), col("pos"), col("vec_id"),
        col("adj").cast("string").as("adj"))
      .collect().map(_.toSeq).toSet
    // the fold identity: persisted state is BIT-identical, not just
    // search-equivalent — adjacency, positions, everything
    assert(state(s"$dir/up") == state(s"$dir/full"))
    assert(asMap(GraphAnn.hnswServedTopK(s"$dir/up", full,
        nQueries = 5, k = 5))
      == asMap(GraphAnn.hnswServedTopK(s"$dir/full", full,
        nQueries = 5, k = 5)))
    // the delta must actually have gone through construction: the
    // upserted index holds every live full-corpus node
    val n = spark.read.parquet(s"$dir/up").count()
    assert(n == spark.read.parquet(s"$dir/full").count() && n >= 55,
      s"upserted index holds $n nodes")
  }
}
