package graft

import graft.operators.{BucketOverflow, Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Cross-checks for the approximate (no-SQL-oracle) dedup/similarity
  * paths against their exact counterparts — the guarantees SURVEY.md §5.3
  * asks for: LSH candidates must cover the true near-dup pairs, verified
  * outputs must carry exact scores. */
class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf0)
  private lazy val emb = Tables.embeddings(spark, sf0)

  test("minhash-LSH near-dup pairs: precision 1, full recall at high J") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
    val lsh = Dedup.minHashNearDupPairs(docs, threshold = 0.5).collect().toSet
    // precision 1 always (LSH output is exact-verified)
    assert(lsh.subsetOf(exact.toSet))
    // recall guarantee only holds for strongly-similar pairs: at J≥0.9
    // with 16 bands × 4 rows the per-pair miss probability is < 1e-7;
    // a pair at J=0.5 is only caught with p≈0.64, so don't demand it
    val strong = exact.filter(_.getAs[Double]("jaccard") >= 0.9).toSet
    assert(strong.subsetOf(lsh),
      s"missed ${(strong -- lsh).size} of ${strong.size} high-J pairs")
  }

  test("nearDupClusters = transitive closure of the pair relation") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // reference components via driver-side union-find on the same pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clustered = Dedup.nearDupClusters(docs, threshold = 0.3).collect()
    val byDoc = clustered.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // every doc present exactly once, labeled with its component min
    assert(clustered.length == docs.count())
    byDoc.foreach { case (d, c) => assert(c == find(d), s"doc $d") }
    // the fixture actually exercises multi-edge chains (non-vacuous)
    val multi = byDoc.groupBy(_._2).filter(_._2.size > 2)
    assert(multi.nonEmpty, "fixture has no component larger than a pair")
    // keeper flag: exactly the component minimum, one per cluster
    val keepers = clustered.filter(_.getAs[Boolean]("is_keeper"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(keepers == byDoc.values.toSet)
  }

  test("connectedComponents is pair-source-agnostic: embedding LSH near-dup " +
    "clusters match driver-side union-find") {
    // the SAME graph primitive behind nearDupClusters, driven by the
    // embedding near-dup relation instead of text shingles
    val pairs = Similarity.nearDupPairsLsh(emb, threshold = 0.4)
      .select(col("vec_a"), col("vec_b"))
    val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(collected.nonEmpty, "fixture has no embedding near-dup pairs")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    val verts = collected.flatMap(p => Seq(p._1, p._2)).distinct
    assert(labels.keySet == verts.toSet)
    verts.foreach(v => assert(labels(v) == find(v), s"vec $v"))
  }

  test("connectedComponents at 10x duplication: labels unchanged on the " +
    "original graph, copies label within their own replica, parallelism " +
    "tracks the input") {
    import spark.implicits._
    // base graph: 50 chains of length 4 plus 20 triangles — diameters
    // that exercise the pointer jumping, ids sparse
    val chainEdges = (0 until 50).flatMap { c =>
      val b = c * 10L
      Seq((b, b + 3), (b + 3, b + 7), (b + 7, b + 9))
    }
    val triEdges = (0 until 20).flatMap { t =>
      val b = 10000L + t * 10L
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    }
    val base = (chainEdges ++ triEdges).toDF("a", "b")
    val baseLabels = Dedup.connectedComponents(base).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    // 10x: the original plus 9 re-keyed replicas (disjoint id ranges).
    // Components never bridge replicas, so every original vertex must
    // keep its exact label and every copy must get the offset label.
    val offs = (1 to 9).map(_ * 1000000L)
    val stressed = offs.foldLeft(base) { (acc, o) =>
      acc.unionByName(base.select((col("a") + o).as("a"), (col("b") + o).as("b")))
    }
    val stressedLabels = Dedup.connectedComponents(stressed).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    assert(stressedLabels.size == baseLabels.size * 10)
    baseLabels.foreach { case (n, l) =>
      assert(stressedLabels(n) == l, s"original node $n relabeled")
      offs.foreach { o =>
        assert(stressedLabels(n + o) == l + o, s"copy ${n + o} mislabeled")
      }
    }
    // the driver union-find fast path and the distributed propagation
    // must agree bit-for-bit on the same graph (smallGraphEdgeCap=0
    // forces the distributed propagation; the probe would otherwise take
    // the union-find fast path on a graph this small)
    val dist = Dedup.connectedComponents(stressed, smallGraphEdgeCap = 0L)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    assert(dist == stressedLabels)
  }

  test("repetitionStats flags repeated-token and repeated-bigram docs") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (3L, "ab cd " * 19 + "ab cd"), // 40 tokens, 2 distinct bigram types
      (4L, "solo"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.repetitionStats(fixture)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: one token repeated 10× — top share 1.0, all bigrams dups
    assert(out(1L).getAs[Long]("top_token_cnt") == 10L)
    assert(out(1L).getAs[Double]("top_token_frac") == 1.0)
    assert(out(1L).getAs[Double]("dup_bigram_frac") == 8.0 / 9.0)
    assert(!out(1L).getAs[Boolean]("keep"))
    // doc 2: all tokens distinct — clean on both signals
    assert(out(2L).getAs[Double]("top_token_frac") == 1.0 / 40.0)
    assert(out(2L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(out(2L).getAs[Boolean]("keep"))
    // doc 3: alternating two tokens — top share 0.5, and of the 39
    // bigrams only 2 are distinct types ("ab cd", "cd ab"):
    // dup fraction (39-2)/39
    assert(out(3L).getAs[Double]("top_token_frac") == 0.5)
    assert(out(3L).getAs[Double]("dup_bigram_frac") == 37.0 / 39.0)
    assert(!out(3L).getAs[Boolean]("keep"))
    // doc 4: single token — zero bigrams must not divide by zero
    assert(out(4L).getAs[Long]("n_tokens") == 1L)
    assert(out(4L).getAs[Double]("dup_bigram_frac") == 0.0)
  }

  test("ngramTopK: per-language df counts, rank ties broken by bigram") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "en", "x y z"),   // bigrams: "x y", "y z"
      (2L, "en", "x y w"),   // "x y", "y w"
      (3L, "en", "x y x y"), // distinct-per-doc: "x y", "y x"
      (4L, "fr", "a b"))     // separate language partition
      .toDF("doc_id", "lang", "text")
    val rows = graft.operators.Corpus.ngramTopK(fixture, k = 10).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rnk"),
        r.getAs[String]("bigram"), r.getAs[Long]("df")))
    val en = rows.filter(_._1 == "en")
    // "x y" appears in 3 docs (df counts docs, not occurrences);
    // df-1 bigrams rank alphabetically after it
    assert(en.head == (("en", 1L, "x y", 3L)))
    assert(en.map(_._3).toSeq == Seq("x y", "y w", "y x", "y z"))
    assert(rows.filter(_._1 == "fr").map(_._3).toSeq == Seq("a b"))
  }

  test("approxCounts (HLL) tracks exact distinct tokens within its error bound") {
    import graft.operators.Corpus
    val exact = Corpus.corpusStats(docs).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("distinct_tokens"))
      .toMap
    val approx = Corpus.approxCounts(docs, rsd = 0.02).collect()
    assert(approx.nonEmpty && approx.length == exact.size)
    approx.foreach { r =>
      val s = r.getAs[String]("source")
      val a = r.getAs[Long]("approx_distinct_tokens").toDouble
      val e = exact(s).toDouble
      // HLL++ at rsd=0.02: allow 5% (2.5 sigma) per source
      assert(math.abs(a - e) / e <= 0.05,
        s"source $s: approx $a vs exact $e drifts > 5%")
    }
  }

  test("meanPoolEmbeddings: exact element-wise means with half-away " +
    "rounding, invariant under repartitioning") {
    import spark.implicits._
    // doc 1: means land on .5 (rounding direction matters); doc 2: one
    // chunk (identity); negative components exercise away-from-zero
    val fix = Seq(
      (0L, Array(0.001f, -0.002f, 0.003f), 1),
      (1L, Array(0.002f, -0.003f, 0.004f), 1),   // sums 3,-5,7 over 2
      (2L, Array(0.010f, -0.020f, 0.030f), 2))
      .toDF("vec_id", "embedding", "label")
    for (parts <- Seq(1, 5)) {
      val out = Similarity.meanPoolEmbeddings(fix.repartition(parts))
        .collect().map(r => r.getAs[Int]("doc_key") ->
          (r.getAs[Long]("n_chunks"), r.getSeq[Long](2), r.getAs[Long]("pooled_nrm")))
        .toMap
      // (3/2, -5/2, 7/2) → round half away from zero → (2, -3, 4)
      assert(out(1) == ((2L, Seq(2L, -3L, 4L), 4L + 9L + 16L)), s"at $parts parts")
      assert(out(2) == ((1L, Seq(10L, -20L, 30L), 100L + 400L + 900L)))
    }
  }

  test("lengthQuantilesApprox (GK sketch) within rank error of exact quantiles") {
    import graft.operators.Relational
    val n = docs.count().toDouble
    val sorted = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    val approx = Relational.lengthQuantilesApprox(docs, accuracy = 1000)
      .collect().head
    Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9)
      .foreach { case (c, q) =>
        val v = approx.getAs[Long](c)
        val rank = sorted.count(_ <= v).toDouble / n
        // GK at accuracy=1000: rank error <= 1/1000; allow 2/1000 slack
        assert(math.abs(rank - q) <= 0.002 ||
          sorted.count(_ < v).toDouble / n <= q, // ties can inflate rank
          s"$c=$v has rank $rank, expected ~$q")
      }
  }

  test("corpusPipeline output: gated, exact-dup-free, cluster-representative") {
    import graft.operators.{Corpus, TextAnalysis}
    val out = Corpus.corpusPipeline(docs).collect()
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    assert(out.nonEmpty && out.length < docs.count())
    // every survivor passes both gates
    val gates = docs
      .select(col("doc_id"), TextAnalysis.qualityExpr(col("text")).as("q"),
        TextAnalysis.repetitionKeepExpr(col("text")).as("rk"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("q"), r.getAs[Boolean]("rk"))).toMap
    ids.foreach { d =>
      assert(gates(d)._1 >= 0.5 && gates(d)._2, s"doc $d fails a gate") }
    // no two survivors share a normalized-content fingerprint
    val fps = docs.filter(col("doc_id").isin(ids: _*))
      .select(md5(regexp_replace(trim(lower(col("text"))), " +", " ")))
      .collect().map(_.getString(0))
    assert(fps.distinct.length == fps.length)
    // split is exactly the shared md5 holdout
    out.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val firstByte = java.security.MessageDigest.getInstance("MD5")
        .digest(d.toString.getBytes).head & 0xFF
      // first hex digit in {0,1} <=> first byte < 0x20
      val expect = if (firstByte < 0x20) "test" else "train"
      assert(r.getAs[String]("split") == expect, s"doc $d split")
    }
  }

  test("funnelReport: stage counts are monotone and reconcile exactly " +
    "with what corpusPipeline emits") {
    import graft.operators.Corpus
    val out = Corpus.funnelReport(docs).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSeq == Seq("ingest", "quality_gate",
      "exact_dedup", "near_dup", "train_split"))
    val counts = out.map(_._2._1)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"attrition not monotone: ${counts.toSeq}")
    assert(counts.head == docs.count())
    // the funnel's survivor stages count exactly the pipeline's output
    val pipe = Corpus.corpusPipeline(docs).collect()
    val byStage = out.toMap
    assert(byStage("near_dup")._1 == pipe.length.toLong)
    assert(byStage("train_split")._1 ==
      pipe.count(_.getAs[String]("split") == "train").toLong)
    // ppm vs ingest: recomputed from the counts themselves
    out.foreach { case (_, (n, _, ppm)) =>
      assert(ppm == n * 1000000L / counts.head, s"ppm drift at $n") }
  }

  test("corpusPipeline under duplication stress: perturbed re-keyed copies " +
    "collapse onto their originals") {
    import graft.operators.Corpus
    // every doc gets a near-identical twin (one token appended, higher
    // id): the exact-dup stage must NOT catch it (text differs), the
    // near-dup clustering MUST — each component keeps its original
    val twins = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzextra")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    val corpus = docs.unionByName(twins)
    val base = Corpus.corpusPipeline(docs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val stressed = Corpus.corpusPipeline(corpus).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // a twin (id >= 1e6) may survive ONLY when its original never made
    // it into the clustering stage at all — i.e. the original failed a
    // content gate that the twin's extra token tipped the other way
    // (e.g. the 50-char length floor). If the original passed the
    // gates, it (or its identical exact-dup winner) is in the twin's
    // cluster with a smaller id, and the twin must lose.
    import graft.operators.TextAnalysis
    val gateOk = docs.filter(
        TextAnalysis.qualityExpr(col("text")) >= 0.5 &&
          TextAnalysis.repetitionKeepExpr(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivingTwins = stressed.filter(_ >= 1000000L)
    assert(survivingTwins.forall(t => !gateOk(t - 1000000L)),
      s"twin survived despite gated-in original: " +
        s"${survivingTwins.filter(t => gateOk(t - 1000000L)).take(5)}")
    assert(stressed.filter(_ < 1000000L).subsetOf(base))
    // and the overwhelming majority of original survivors remain (a few
    // may drop when a twin's presence changes df-capped blocking)
    assert(stressed.size >= (base.size * 9) / 10,
      s"stressed ${stressed.size} vs base ${base.size}")
  }

  test("simhash: identical docs collide at hamming 0; pairs are near-dups") {
    // the sf0.001 fixture has no exactly-duplicate texts (verified: the
    // old fixture-conditional check silently skipped), so synthesize
    // them: re-key a slice of real docs — identical text, distinct ids
    val dupes = docs.limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(dupes)
    val fps = Dedup.simHash(corpus)
    // docs with identical text must have identical simhash
    val joined = corpus.join(fps, "doc_id")
      .groupBy("text").agg(countDistinct("simhash").as("n"))
      .filter(col("n") > 1).count()
    assert(joined == 0)
    val pairs = Dedup.simHashNearDupPairs(corpus).collect()
    // recall floor: every identical-text pair has hamming 0 ⇒ identical
    // bands ⇒ it MUST surface as a candidate pair
    val idPairs = corpus.as("l")
      .join(corpus.as("r"),
        col("l.text") === col("r.text") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idPairs.size >= 20 && idPairs.subsetOf(found),
      s"missed ${(idPairs -- found).size} of ${idPairs.size} identical-text pairs")
  }

  test("simhash band keys: every pair within the Hamming budget shares a key " +
    "(pigeonhole recall 1), and keys are wider than any single block") {
    import spark.implicits._
    // 100 random fingerprint pairs differing in EXACTLY 3 scattered bits —
    // the worst case for blocking (flips spread over 3 distinct blocks)
    val rnd = new scala.util.Random(7)
    val fps = (0 until 100).map { i =>
      val a = rnd.nextLong()
      val bits = rnd.shuffle((0 until 64).toList).take(3)
      (i.toLong, a, bits.foldLeft(a)((x, bit) => x ^ (1L << bit)))
    }
    val df = fps.flatMap { case (pid, a, b) => Seq((pid, 0, a), (pid, 1, b)) }
      .toDF("pid", "side", "fp")
    val keys = df.select(col("pid"), col("side"),
      explode(Dedup.simHashBandKeys(col("fp"))).as("bk"))
    // every pair collides on at least one (band, key)
    val colliding = keys
      .groupBy(col("pid"), col("bk.band"), col("bk.key"))
      .agg(countDistinct("side").as("ns")).filter(col("ns") === 2)
      .select("pid").distinct().count()
    assert(colliding == 100L, s"only $colliding/100 pairs collide on a band")
    // 20 bands (C(6,3)) per doc, and the key carries > 16 bits of the
    // fingerprint — the old fixed-65,536 keyspace is the scale ceiling
    // this scheme exists to remove
    val perDoc = keys.groupBy("pid", "side").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(perDoc == Seq(20L))
    val maxKey = keys.agg(max(abs(col("bk.key")))).head().getLong(0)
    assert(maxKey > 65536L, s"band keyspace still 16-bit (max key $maxKey)")
  }

  test("hot-bucket guard: pathological all-identical corpora fail loudly, " +
    "or drop bounded under BucketOverflow.Drop") {
    import spark.implicits._
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      sb.toString
    }
    // 40 identical docs: one bucket of 40 in every band/table — b²/2
    // candidate pairs if unguarded
    val same = (0 until 40).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      Dedup.minHashNearDupPairs(same, maxBucket = 8).collect()
    }
    assert(rootMsg(e1).contains("maxBucket=8"), rootMsg(e1).take(200))
    val e2 = intercept[Exception] {
      Dedup.simHashNearDupPairs(same, maxBucket = 8).collect()
    }
    assert(rootMsg(e2).contains("maxBucket=8"), rootMsg(e2).take(200))
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array(1f, 2f, 3f, 4f), "x")).toDF("vec_id", "embedding", "label")
    val e3 = intercept[Exception] {
      Similarity.nearDupPairsLsh(vecs, maxBucket = 8).collect()
    }
    assert(rootMsg(e3).contains("maxBucket=8"), rootMsg(e3).take(200))
    // Drop: over-cap buckets are skipped — bounded (here: empty) output
    // instead of quadratic enumeration, and no exception
    assert(Dedup.minHashNearDupPairs(same, maxBucket = 8,
      overflow = BucketOverflow.Drop).count() == 0L)
    assert(Dedup.simHashNearDupPairs(same, maxBucket = 8,
      overflow = BucketOverflow.Drop).count() == 0L)
    assert(Similarity.nearDupPairsLsh(vecs, maxBucket = 8,
      overflow = BucketOverflow.Drop).count() == 0L)
    // the guard never fires on healthy inputs: a cap at the corpus size
    // reproduces the unguarded result (same docs, distinct texts)
    val healthy = docs.limit(30).select("doc_id", "text")
    val capped = Dedup.simHashNearDupPairs(healthy, maxBucket = 30).collect()
    val roomy = Dedup.simHashNearDupPairs(healthy, maxBucket = 1024).collect()
    assert(capped.toSeq == roomy.toSeq)
  }

  test("winnowOverlapPairs finds shared boilerplate that a whole-doc " +
    "Jaccard threshold misses; guard trips on corpus-wide fingerprints") {
    import spark.implicits._
    val boiler = "licensed under the creative commons attribution share alike international license"
    def uniq(p: String) = (0 until 40).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq("a")} $boiler"),
      (2L, s"$boiler ${uniq("b")}"),
      (3L, uniq("c")))
      .toDF("doc_id", "text")
    // the 10-token shared run guarantees >= 1 common selected fingerprint
    val overlaps = Dedup.winnowOverlapPairs(docs, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(overlaps.contains((1L, 2L)), s"boilerplate pair missed: $overlaps")
    assert(!overlaps.contains((1L, 3L)) && !overlaps.contains((2L, 3L)))
    // whole-doc Jaccard at the dedup threshold does NOT see this pair:
    // ~8 shared grams over ~88 distinct ones is J ≈ 0.1
    val jac = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "fixture too similar — Jaccard found it, the contrast is vacuous")
    // a fingerprint shared corpus-wide (all-identical docs) must hit the
    // bounded-bucket guard, not enumerate quadratically
    val same = (0 until 40).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.winnowOverlapPairs(same, maxBucket = 8).collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(e).contains("maxBucket=8"))
  }

  test("quantized cosine is symmetric, bounded and exact on unit cases") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(2.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val rows = Similarity.nearDupPairs(df, threshold = -2.0)
      .as[(Long, Long, Double)].collect()
    val pairs = rows.map { case (a, b, c) => (a, b) -> c }.toMap
    assert(math.abs(pairs((1L, 3L)) - 1.0) < 1e-12) // parallel vectors
    assert(math.abs(pairs((1L, 2L))) < 1e-12)       // orthogonal
  }

  test("ANN top-k recall ≥ 0.5 vs brute force on random embeddings") {
    val bf = Similarity.bruteForceTopK(emb).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.nonEmpty, "brute-force baseline returned no rows")
    val recall = (bf & ann).size.toDouble / bf.size
    // random vectors are the worst case for sign-LSH; ≥0.5 demonstrates
    // the multi-table union works (clustered real data recalls higher)
    assert(recall >= 0.5, s"recall $recall")
  }

  test("quantizeCurve: error shrinks monotonically with width, 8-bit " +
    "leg equals the fixed audit, constant vectors cost zero") {
    val rows = Similarity.quantizeCurve(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.keySet == Set(4L, 6L, 8L))
    assert(rows(4L) > rows(6L) && rows(6L) > rows(8L),
      s"error not monotone in width: $rows")
    // the curve's 8-bit leg must equal the fixed audit's corpus total
    val fixed = Similarity.int8Quantize(emb)
      .agg(org.apache.spark.sql.functions.sum("total_abs_err"))
      .collect().head.getLong(0)
    assert(rows(8L) == fixed,
      s"curve 8-bit ${rows(8L)} != embed_quantize total $fixed")
    // constant vectors reconstruct exactly at any width
    import spark.implicits._
    val const = Seq((1L, "a", Array.fill(64)(0.5f)))
      .toDF("vec_id", "label", "embedding")
    assert(Similarity.quantizeCurve(const).collect()
      .forall(_.getLong(3) == 0L))
  }

  test("recallRows with a served-IVF leg: ppm equals the recomputed " +
    "intersection") {
    val cent = Similarity.trainCentroids(Similarity.prepared(emb),
      nlist = 16, iters = 2)
    val ivf = Similarity.ivfTopKWith(emb, cent)
    val row = Similarity.recallRows(emb, Seq("ivf_served" -> ivf))
      .collect().head
    val bf = Similarity.bruteForceTopK(emb).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val iv = ivf.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(row.getString(0) == "ivf_served")
    assert(row.getLong(3) == (bf & iv).size.toLong)
    assert(row.getLong(4) == row.getLong(3) * 1000000L / row.getLong(2))
  }

  test("candidateCosHist: parallel pairs land in the top bin, bins " +
    "bound their cosines") {
    import spark.implicits._
    // three IDENTICAL vectors: cos = 1.0 exactly (a scaled copy would
    // round differently on the ×1000 grid and drop to bin 19)
    def vec() = Array.tabulate(64)(i => (i + 1) / 64f)
    val emb = Seq((1L, "a", vec()), (2L, "a", vec()), (3L, "a", vec()))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.candidateCosHist(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    // identical/parallel vectors bucket together in every table → 3
    // candidate pairs, all at cos = 1.0 → bin floor(20·1.0) = 20
    assert(out.keySet == Set(20L), s"bins ${out.keySet}")
    assert(out(20L)._1 == 3L && out(20L)._2 == 1.0 && out(20L)._3 == 1.0)
    // corpus histogram: every bin's range sits inside [bin/20, bin/20+0.05]
    val hist = Similarity.candidateCosHist(Tables.embeddings(spark, sf0))
      .collect()
    assert(hist.nonEmpty)
    hist.foreach { r =>
      val (bin, mn, mx) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      assert(mn >= bin / 20.0 - 1e-12 && mx < (bin + 1) / 20.0 + 1e-12,
        s"bin $bin range [$mn,$mx] escapes its bounds")
    }
  }

  test("minHashEstimatorAudit: identical docs score zero error; corpus " +
    "errors stay in ppm bounds") {
    import spark.implicits._
    val t = "w1 w2 w3 w4 w5 w6 w7 w8"
    val twins = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val r = Dedup.minHashEstimatorAudit(twins).collect().head
    // one candidate pair, est = exact = 10^6 → zero error, no
    // threshold disagreement possible
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 0L, 0L, 0L, 0L)), r)
    val c = Dedup.minHashEstimatorAudit(Tables.documents(spark, sf0))
      .collect().head
    assert(c.getLong(0) > 0L)
    assert(c.getLong(1) >= 0L && c.getLong(1) <= 1000000L)
    assert(c.getLong(2) >= c.getLong(1))
  }

  test("containmentPairs finds the subset-duplicate Jaccard misses") {
    import spark.implicits._
    val short = "q1 q2 q3 q4 q5"                       // 3 shingles
    val tail = (1 to 40).map(i => s"t$i").mkString(" ") // 40+ unique ones
    val docs = Seq(
      (1L, short),
      (2L, s"$short $tail"),
      (3L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // doc 1 is wholly inside doc 2: containment(A in B) = 3/3 = 1
    assert(pairs.keySet == Set((1L, 2L)), s"got ${pairs.keySet}")
    val (nc, szA, szB, cA) = pairs((1L, 2L))
    assert(nc == 3L && szA == 3L && cA == 1000000L)
    assert(szB > 40L)
    // ...and symmetric Jaccard at its production threshold misses it
    val j = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
    assert(!j.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "Jaccard unexpectedly caught the subset pair — fixture too small")
  }

  test("dimStats: exact per-dim sums, dead flag on a collapsed dim, " +
    "degenerate vectors gated") {
    import spark.implicits._
    // dim 0 constant 1.0 (dead), dim 1 varies; dims 2..63 zero (dead);
    // a null and a wrong-width vector must be gated out
    def vec(d1: Float) = Array(1.0f, d1) ++ Array.fill(62)(0.0f)
    val emb = Seq(
      (1L, "a", vec(1.0f)), (2L, "a", vec(2.0f)), (3L, "a", vec(3.0f)))
      .toDF("vec_id", "label", "embedding")
      .unionByName(Seq((4L, "a", null.asInstanceOf[Array[Float]]),
        (5L, "a", Array(1.0f, 2.0f))).toDF("vec_id", "label", "embedding"))
    val out = Similarity.dimStats(emb).collect()
    assert(out.length == 64)
    val d0 = out(0); val d1 = out(1)
    // quantized ×1000: dim0 = 1000,1000,1000; dim1 = 1000,2000,3000
    assert(d0.getLong(1) == 3L && d0.getLong(2) == 3000L &&
      d0.getBoolean(7), s"d0 $d0")
    assert(d1.getLong(2) == 6000L && d1.getLong(3) == 14000000L)
    // var_num = n·Σv²−(Σv)² = 3·14e6 − 36e6 = 6e6; not dead
    assert(d1.getLong(6) == 6000000L && !d1.getBoolean(7))
    assert(out.drop(2).forall(r => r.getBoolean(7) && r.getLong(6) == 0L))
  }

  test("recall report: ppm matches the set intersection, multiprobe " +
    "dominates single-probe, bounds hold") {
    val rows = Similarity.recallReport(emb).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("lsh", "lsh_multiprobe"))
    val bf = Similarity.bruteForceTopK(emb).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (nq, nPoss, nHits, ppm) = rows("lsh")
    assert(nq == bf.map(_._1).size.toLong)
    assert(nPoss == bf.size.toLong)
    assert(nHits == (bf & ann).size.toLong,
      s"report hits $nHits vs recomputed ${(bf & ann).size}")
    assert(ppm == nHits * 1000000L / nPoss)
    // multiprobe candidates ⊇ single-probe ⇒ hits can only grow
    val (_, _, mpHits, mpPpm) = rows("lsh_multiprobe")
    assert(mpHits >= nHits && mpPpm >= ppm)
    assert(ppm >= 0L && mpPpm <= 1000000L)
  }

  test("LSH embedding near-dup pairs ⊆ brute force, recall ≥ 0.5") {
    val exact = Similarity.nearDupPairs(emb).select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(emb).select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty)
      assert((exact & lsh).size.toDouble / exact.size >= 0.5,
        s"recall ${(exact & lsh).size.toDouble / exact.size}")
  }

  test("exact dedup keeps lowest doc_id per duplicate text group") {
    val deduped = graft.operators.Relational
      .dedupExact(docs, Seq("text"), "doc_id")
    val winners = deduped.groupBy("text").count().filter(col("count") > 1).count()
    assert(winners == 0)
    // BOTH directions, or over-deletion (even an empty result) passes
    val expected = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    assert(deduped.select("doc_id").except(expected.select("doc_id")).count() == 0)
    assert(expected.select("doc_id").except(deduped.select("doc_id")).count() == 0)
    assert(deduped.count() == expected.count())
  }

  test("IVF top-k: exact scores, recall vs brute force, probe bound") {
    val brute = Similarity.bruteForceTopK(emb, nQueries = 10, k = 10).collect()
    val ivf = Similarity.ivfTopK(emb, nQueries = 10, k = 10,
      nlist = 8, nprobe = 4).collect()
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getAs[Long]("n_id"))).toSet
    // probing half the lists on random embeddings: every returned
    // neighbor must carry its EXACT cosine (rerank is exact) ...
    val bruteCos = brute.map(r =>
      (r.getLong(0), r.getAs[Long]("n_id")) -> r.getAs[Double]("cos")).toMap
    assert(ivf.forall { r =>
      val key = (r.getLong(0), r.getAs[Long]("n_id"))
      !bruteCos.contains(key) || bruteCos(key) == r.getAs[Double]("cos")
    })
    // ... and aggregate recall must clear the IVF probe expectation
    val recall = pairs(ivf).intersect(pairs(brute)).size.toDouble / brute.length
    assert(recall >= 0.4, s"IVF recall $recall below bound")
  }

  test("persisted IVF quantizer: serve path bit-identical to in-session " +
    "training, and plans no training jobs") {
    val p = Similarity.prepared(emb)
    val dir = Scratch.dir("graft_ivf_cent_").toString
    Similarity.saveCentroids(
      Similarity.trainCentroids(p, nlist = 8, iters = 2), dir)
    val served = Similarity.ivfTopKWith(emb,
      Similarity.loadCentroids(spark, dir), nQueries = 10, k = 10, nprobe = 4)
    // no quantizer training in the serve plan: the md5-keyed
    // deterministic sampling exists ONLY in train/seed paths
    assert(!served.queryExecution.optimizedPlan.toString.contains("md5"),
      "serve plan still contains the training sample")
    val fresh = Similarity.ivfTopK(emb, nQueries = 10, k = 10,
      nlist = 8, nprobe = 4, trainIters = 2).collect()
    assert(served.collect().toSeq == fresh.toSeq)
    // quantizer schema contract is enforced up front
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKWith(emb, emb)
    }
    assert(e.getMessage.contains("cent_id"))
  }

  test("persisted residual IVF-PQ artifacts: serve path bit-identical " +
    "to in-session training, and plans no training jobs") {
    val p = Similarity.prepared(emb)
    val qdir = Scratch.dir("graft_ivfr_cent_").toString
    Similarity.saveCentroids(
      Similarity.trainCentroids(p, nlist = 16, iters = 2), qdir)
    val cdir = Scratch.dir("graft_ivfr_cb_").toString
    Similarity.saveCodebook(
      Similarity.trainResidualPqCodebook(emb,
        Similarity.loadCentroids(spark, qdir)), cdir)
    val served = Similarity.ivfpqResidualTopK(emb,
      centroids0 = Some(Similarity.loadCentroids(spark, qdir)),
      residualCodebook0 = Some(spark.read.parquet(cdir)))
    // no training jobs in the serve plan: the md5-keyed deterministic
    // sampling exists ONLY in the coarse/PQ train paths
    assert(!served.queryExecution.optimizedPlan.toString.contains("md5"),
      "serve plan still contains a training sample")
    val fresh = Similarity.ivfpqResidualTopK(emb).collect()
    assert(served.collect().toSeq == fresh.toSeq)
    // codebook schema contract is enforced up front
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfpqResidualTopK(emb, residualCodebook0 = Some(emb))
    }
    assert(e.getMessage.contains("sub_id"))
  }

  test("trained IVF quantizer beats the flat one on clustered data") {
    import spark.implicits._
    // deterministic clustered fixture: 4 well-separated centers (disjoint
    // active dims), 50 members each with small seeded jitter; cluster of
    // vector id = id % 4, so queries 0..9 span all clusters
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 200).map { id =>
      val c = id % 4
      val v = Array.tabulate(16) { d =>
        val base = if (d / 4 == c) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.2f
      }
      (id.toLong, v, s"c$c")
    }.toDF("vec_id", "embedding", "label")

    val brute = Similarity.bruteForceTopK(vecs, nQueries = 10, k = 10).collect()
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getAs[Long]("n_id"))).toSet
    def recall(rs: Array[org.apache.spark.sql.Row]) =
      pairs(rs).intersect(pairs(brute)).size.toDouble / brute.length

    // nprobe=1 makes quantizer quality decisive: a query only sees its
    // single best list, so centroids must align with the true clusters
    val flat = recall(Similarity.ivfTopK(vecs, nQueries = 10, k = 10,
      nlist = 4, nprobe = 1, trainIters = 0).collect())
    val trained = recall(Similarity.ivfTopK(vecs, nQueries = 10, k = 10,
      nlist = 4, nprobe = 1, trainIters = 3).collect())
    assert(trained >= flat,
      s"training must not hurt recall: trained=$trained flat=$flat")
    assert(trained >= 0.9, s"trained IVF recall $trained below bound")
    // on this fixture the md5-seeded flat quantizer actually misses —
    // the improvement is real, not a vacuous >=
    assert(trained > flat, s"expected strict improvement: trained=$trained flat=$flat")
  }

  test("zero-norm vectors are excluded from top-k and near-dup output") {
    import spark.implicits._
    // vec 2 is the zero vector: cosine is NaN (undefined similarity).
    // NaN compares GREATER than every number in both Spark and DuckDB,
    // so without the explicit exclusion it would rank as the #1 neighbor
    // and pass every >= threshold filter — it must appear in neither.
    val vecs = Seq(
      (0L, Array(1f, 0f), "q"),
      (1L, Array(0.9f, 0.1f), "a"),
      (2L, Array(0f, 0f), "zero"),
      (3L, Array(0.5f, 0.5f), "b"))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 3).collect()
    assert(!top.map(_.getAs[Long]("n_id")).contains(2L))
    assert(top.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L))
    assert(top.forall(r => !r.getAs[Double]("cos").isNaN))
    val pairs = Similarity.nearDupPairs(vecs, threshold = 0.0).collect()
    assert(pairs.forall(r =>
      r.getAs[Long]("vec_a") != 2L && r.getAs[Long]("vec_b") != 2L))
  }

  test("chunkDocs: stride windows reconstruct the doc, tail short, " +
    "one chunk for short docs, no shuffle in the plan") {
    import graft.operators.Corpus
    import spark.implicits._
    val fixture = Seq(
      (1L, "s", (0 until 80).map(i => s"t$i").mkString(" ")), // exact cover
      (2L, "s", (0 until 32).map(i => s"u$i").mkString(" ")), // exactly 1
      (3L, "s", "lone"),                                      // 1 tiny chunk
      (4L, "s", (0 until 25).map(i => s"v$i").mkString(" ")), // 1, no tail
      (5L, "s", (0 until 40).map(i => s"w$i").mkString(" "))  // short tail
    ).toDF("doc_id", "source", "text")
    val chunks = Corpus.chunkDocs(fixture, chunkSize = 32, stride = 24)
    val rows = chunks.collect().groupBy(_.getAs[Long]("doc_id"))
    // doc 1: 80 tokens → minimal cover 1+ceil(48/24)=3 windows, all full
    val d1 = rows(1L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d1.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 24L, 48L))
    assert(d1.map(_.getAs[Long]("n_tokens")).toSeq == Seq(32L, 32L, 32L))
    assert(d1.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L))
    // stride segments (first `stride` tokens of each chunk + full last)
    // reconstruct the document exactly
    val rebuilt = d1.init.map(_.getAs[String]("chunk_text")
      .split(" ").take(24).mkString(" ")).mkString(" ") +
      " " + d1.last.getAs[String]("chunk_text")
    assert(rebuilt == (0 until 80).map(i => s"t$i").mkString(" "))
    // docs at/below one window → exactly one chunk, never a redundant
    // second window (32 tokens: start 24 would add no new token)
    assert(rows(2L).length == 1 && rows(2L).head.getAs[Long]("n_tokens") == 32L)
    assert(rows(3L).length == 1 && rows(3L).head.getAs[String]("chunk_text") == "lone")
    assert(rows(4L).length == 1 && rows(4L).head.getAs[Long]("n_tokens") == 25L)
    // 40 tokens → 1+ceil(8/24)=2 windows, tail short (16) and the union
    // of windows covers the doc exactly once past the overlap
    val d5 = rows(5L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d5.map(_.getAs[Long]("n_tokens")).toSeq == Seq(32L, 16L))
    assert(d5.last.getAs[String]("chunk_text") ==
      (24 until 40).map(i => s"w$i").mkString(" "))
    // narrow op: no exchange anywhere in the physical plan
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("paragraphDedup: a repeated boilerplate paragraph survives only " +
    "its first occurrence; host docs keep their distinct paragraphs; " +
    "rank filter plans as WindowGroupLimit") {
    import spark.implicits._
    val boiler = (0 until 32).map(i => s"lic$i").mkString(" ")
    def body(tag: String) = (0 until 32).map(i => s"$tag$i").mkString(" ")
    val fixture = Seq(
      (1L, "s", s"$boiler ${body("a")}"),  // boilerplate + own content
      (2L, "s", s"$boiler ${body("b")}"),  // same header, other content
      (3L, "s", body("c")))                // no boilerplate
      .toDF("doc_id", "source", "text")
    val out = Dedup.paragraphDedup(fixture, chunkSize = 32)
    val rows = out.collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[String]("chunk_text")).toSet }
    // doc 1 (first occurrence) keeps both paragraphs; doc 2 loses the
    // boilerplate but keeps its own body; doc 3 untouched
    assert(byDoc(1L) == Set(boiler, body("a")))
    assert(byDoc(2L) == Set(body("b")), s"doc2 kept: ${byDoc(2L)}")
    assert(byDoc(3L) == Set(body("c")))
    // corpus-wide: every surviving paragraph text is unique
    assert(rows.length == rows.map(_.getAs[String]("chunk_text")).distinct.length)
    // rank<=1 must plan as WindowGroupLimit (per-group top-1, no
    // full per-group sort materialization)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rn=1 filter lost the WindowGroupLimit plan:\n$plan")
  }

  test("mixSources: quotas exactly proportional, maximal, repartition-stable") {
    import graft.operators.Corpus
    val weights = (0 until 20).map(i => s"src$i" -> (i + 1)).toMap
    val mixed = Corpus.mixSources(docs, weights).collect()
    val perSource = mixed.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length).toMap
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // quotas k_s = p_s · M with M = min floor(n_s / p_s): exactly
    // proportional to the weights, and every quota is feasible
    val m = weights.map { case (s, p) => counts(s) / p }.min
    weights.foreach { case (s, p) =>
      assert(perSource.getOrElse(s, 0) == p * m, s"quota for $s")
      assert(perSource.getOrElse(s, 0) <= counts(s))
    }
    // maximality: one more multiplier unit would exceed some source
    assert(weights.exists { case (s, p) => p * (m + 1) > counts(s) })
    // determinism: identical selection under a different partitioning
    val reparted = Corpus.mixSources(docs.repartition(7), weights).collect()
    assert(reparted.map(r => (r.getLong(0), r.getString(1))).toSet ==
      mixed.map(r => (r.getLong(0), r.getString(1))).toSet)
    // a source with no weight entry is dropped entirely
    val partial = Corpus.mixSources(docs, Map("src0" -> 1, "src1" -> 1))
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(partial == Set("src0", "src1"))
    // a WEIGHTED source with zero docs makes the mixture infeasible:
    // it counts as n=0, so M=0 and the output is empty — never a
    // silently-renormalized mixture over just the present sources
    assert(Corpus.mixSources(docs,
      Map("src0" -> 1, "absent_source" -> 1)).isEmpty)
    // requireFeasible makes the same situation fail loudly, naming the
    // starved source — and passes through untouched when feasible
    val e = intercept[IllegalArgumentException] {
      Corpus.mixSources(docs, Map("src0" -> 1, "absent_source" -> 1),
        requireFeasible = true)
    }
    assert(e.getMessage.contains("absent_source"))
    assert(Corpus.mixSources(docs, weights, requireFeasible = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      mixed.map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("mixTemperature: hand-checked α=1/2 integer quotas — the head " +
    "lang downsamples, the tail UPSAMPLES via repetition, budget held") {
    import graft.operators.Corpus
    import spark.implicits._
    // en n=16 (w=4), fr n=4 (w=2): N=20, Σw=6 →
    //   quota_en = 20·4 div 6 = 13 → 0 full epochs + 13 extras (13/16 ↓)
    //   quota_fr = 20·2 div 6 = 6  → 1 full epoch  + 2 extras  (6/4  ↑)
    val fix = ((1L to 16L).map(i => (i, "en")) ++
        (101L to 104L).map(i => (i, "fr")))
      .toDF("doc_id", "lang")
    val out = Corpus.mixTemperature(fix).collect()
    val byLang = out.groupBy(_.getString(1))
    val enCopies = byLang("en").map(_.getLong(2))
    assert(enCopies.length == 13 && enCopies.forall(_ == 1L),
      "head lang must downsample to its quota, one copy each")
    val frCopies = byLang("fr").map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(frCopies.size == 4 && frCopies.values.sum == 6L &&
      frCopies.values.forall(c => c == 1L || c == 2L),
      s"tail lang must repeat: got $frCopies")
    // budget: Σ copies ≤ N, within one floor loss per lang
    val total = out.map(_.getLong(2)).sum
    assert(total == 19L, s"Σ n_copies = $total, want 13 + 6")
    // sampling RATE is monotone in n: copies/n lower for the head
    assert(13.0 / 16.0 < 6.0 / 4.0)
    // determinism under partitioning
    val rep = Corpus.mixTemperature(fix.repartition(5)).collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      out.map(r => (r.getLong(0), r.getLong(2))).toSet)
  }

  test("trainCentroids drops a cluster whose mean rounds to the zero vector") {
    import spark.implicits._
    // every vector has an exact negation, so with nlist=1 the single
    // cluster's element-wise mean is the zero vector: c_nrm = 0, cosine
    // NaN against everything — and NaN sorts ABOVE any number in the
    // max_by assignment, so an unfiltered zero centroid would capture
    // every vector and probe. The invariant: no returned centroid may
    // have c_nrm = 0.
    val pm = (1 to 8).flatMap(i => Seq(
      (i.toLong, Array(i.toFloat, -i.toFloat), "p"),
      (100L + i, Array(-i.toFloat, i.toFloat), "n")))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.trainCentroids(
      Similarity.prepared(pm), nlist = 1, iters = 2).collect()
    assert(cents.forall(_.getAs[Long]("c_nrm") > 0L),
      s"zero-norm centroid leaked: ${cents.toSeq}")
  }

  test("contamination check = cross-split slice of the near-dup relation") {
    import graft.operators.Corpus
    val t = 0.3
    val contam = Corpus.contaminationCheck(docs, threshold = t).collect()
    val holdout = Corpus.sampleDocs(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // every reported pair must span the split: test side in the holdout,
    // train side not
    assert(contam.forall { r =>
      holdout(r.getAs[Long]("test_doc")) && !holdout(r.getAs[Long]("train_doc"))
    })
    // and it must be EXACTLY the cross-split slice of the full near-dup
    // relation at the same threshold (unordered pair → (test, train))
    val full = Dedup.ngramJaccardPairs(docs, threshold = t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossSlice = full.collect {
      case (a, b) if holdout(a) && !holdout(b) => (a, b)
      case (a, b) if holdout(b) && !holdout(a) => (b, a)
    }
    val got = contam.map(r =>
      (r.getAs[Long]("test_doc"), r.getAs[Long]("train_doc"))).toSet
    assert(got == crossSlice,
      s"missing=${(crossSlice -- got).size} extra=${(got -- crossSlice).size}")
  }

  test("epochOrder: each epoch is a full permutation, epochs differ, and " +
    "the order is repartition-stable") {
    import graft.operators.Corpus
    val n = docs.count()
    val e1 = Corpus.epochOrder(docs, epoch = 1).collect()
    // bijection onto 0..N-1
    assert(e1.map(_.getAs[Long]("train_pos")).sorted.toSeq ==
      (0L until n).toSeq)
    // a different epoch reshuffles (astronomically unlikely to agree)
    val e2 = Corpus.epochOrder(docs, epoch = 2).collect()
    val pos1 = e1.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("train_pos")).toMap
    val pos2 = e2.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("train_pos")).toMap
    assert(pos1 != pos2, "epoch 2 produced the same order as epoch 1")
    // determinism under a different physical layout
    val re = Corpus.epochOrder(docs.repartition(7), epoch = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("train_pos")).toMap
    assert(re == pos1)
  }

  test("knnJoinLsh ≡ annTopK on a shared query slice (identical bucket " +
    "scheme, different physical shape)") {
    // same tables/bits ⇒ identical candidate sets per query, so the
    // self-join's slice must equal the bounded-query form row for row —
    // what differs is only the physical plan (shuffle equi-joins vs
    // broadcast queries)
    val k = 10
    val knn = Similarity.knnJoinLsh(emb, k = k).collect()
      .filter(_.getAs[Long]("q_id") < 10)
    val ann = Similarity.annTopK(emb, nQueries = 10, k = k).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"), r.getAs[Long]("n_id"),
        r.getAs[Double]("cos"))).toSeq
    assert(key(knn) == key(ann))
    // and every corpus vector with any candidate appears as a query
    val qids = Similarity.knnJoinLsh(emb, k = 1).collect()
      .map(_.getAs[Long]("q_id")).toSet
    assert(qids.size > 10, s"self-join covered only ${qids.size} queries")
  }

  test("knnLabelAccuracy: tight per-label clusters score near-perfect; " +
    "census columns reconcile and no vector is dropped") {
    import spark.implicits._
    // two well-separated clusters of 8: label 0 near +e1, label 1 near
    // +e2 — every neighbor vote is same-label
    val vecs = (0 until 16).map { i =>
      val lbl = i / 8
      val base = if (lbl == 0) Array(10f, 0f, 0.1f * i) else Array(0f, 10f, 0.1f * i)
      (i.toLong, base, lbl)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAccuracy(vecs, k = 3).collect()
    assert(out.length == 2)
    out.foreach { r =>
      val (nv, np, nn, nc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nv == 8L && np + nn == nv, r.toSeq.toString)
      // every PREDICTED vector votes within its own tight cluster
      assert(nc == np, s"cluster vote leaked: ${r.toSeq}")
    }
  }

  test("signHammingHist: co-bucketed twins land in the zero bucket, " +
    "sign-flipped vectors land at max Hamming, buckets partition the " +
    "pair count") {
    import spark.implicits._
    // 4 identical vectors (ham 0 pairs) + 4 exact sign-flips of them
    // (ham = 63 against the originals when co-bucketed)
    val base = Array.tabulate(64)(d => if (d % 2 == 0) 1f else -1f)
    val vecs = ((0 until 4).map(i => (i.toLong, base, 0)) ++
      (4 until 8).map(i => (i.toLong, base.map(-_), 1)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.signHammingHist(vecs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // identical pairs: hamming 0 → bucket 0 with min=max=0
    assert(out.contains(0L) && out(0L)._2 == 0L && out(0L)._3 == 0L,
      s"got $out")
    // any cross-sign pair that shares a bucket reads hamming 63
    out.keys.filter(_ > 0L).foreach { b =>
      assert(out(b)._2 == 63L && out(b)._3 == 63L, s"got $out")
    }
    val totalPairs = out.values.map(_._1).sum
    assert(totalPairs >= 12L, s"twin groups must co-bucket: $out")
  }

  test("thresholdCurve: hand pairs at J=1.0 and J=0.5 — the 0.5 row " +
    "sees all pairs, rows above 0.5 keep only the exact twin, the " +
    "compare is exact-rational") {
    import spark.implicits._
    import graft.operators.{Dedup, CacheScope}
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),   // J = 1.0 twin
      (3L, "a b c d x"))                      // J = 0.5 vs both
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5,
      maxDf = Some(100), scope = CacheScope.off)
    val out = Dedup.thresholdCurve(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keys.toSeq.sorted == Seq(500L, 600L, 700L, 800L, 900L))
    assert(out(500L) == ((3L, 2L, 666666L)), out.toString)
    Seq(600L, 700L, 800L, 900L).foreach { t =>
      assert(out(t) == ((1L, 1L, 333333L)), s"t=$t: ${out(t)}")
    }
  }

  test("sim_recall_probe_curve: recall is monotone in nprobe and the " +
    "full-probe leg matches the served-IVF audit") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf0)
    val cent = Similarity.trainCentroids(Similarity.prepared(emb),
      nlist = 16, iters = 2)
    val out = Similarity.recallRows(emb, Seq(
        "ivf_p1" -> Similarity.ivfTopKWith(emb, cent, nprobe = 1),
        "ivf_p2" -> Similarity.ivfTopKWith(emb, cent, nprobe = 2),
        "ivf_p4" -> Similarity.ivfTopKWith(emb, cent, nprobe = 4)))
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(out("ivf_p1") <= out("ivf_p2") &&
      out("ivf_p2") <= out("ivf_p4"),
      s"recall must be monotone in nprobe: $out")
    val served = Similarity.recallRows(emb,
      Seq("x" -> Similarity.ivfTopKWith(emb, cent, nprobe = 4)))
      .collect().head.getLong(4)
    assert(out("ivf_p4") == served,
      "the 4-probe leg must equal the served-IVF recall")
  }

  test("signHammingHist: an over-cap sign region drops out of the " +
    "histogram instead of aborting it (the diagnostic Drop policy)") {
    import spark.implicits._
    val base = Array.tabulate(64)(d => if (d % 2 == 0) 1f else -1f)
    // 8 identical vectors: every bucket they share holds all 8
    val vecs = (0 until 8).map(i => (i.toLong, base, 0))
      .toDF("vec_id", "embedding", "label")
    // cap 4 < 8: every bucket is over-cap → histogram legitimately
    // empties (truncation, not an exception — the round-15 Fail policy
    // aborted the audit on exactly the corpus it should describe)
    val dropped = Similarity.signHammingHist(vecs, maxBucket = 4).collect()
    assert(dropped.isEmpty, s"over-cap buckets must drop: " +
      dropped.mkString(";"))
    // cap 8: under the cap, the zero-bucket pairs come back
    val kept = Similarity.signHammingHist(vecs, maxBucket = 8).collect()
    assert(kept.nonEmpty && kept.head.getLong(0) == 0L,
      s"under-cap buckets must survive: ${kept.mkString(";")}")
  }

  test("signHammingRecall: planted exact twins are recovered at the " +
    "full bit budget — binary rank 1 and cosine rank 1 agree — and " +
    "the curve's denominator is queries × k") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // queries 0..9; 10..19 are exact copies (cos 1, ham 0); 30 fillers
    val qs = (0 until 10).map(i =>
      Array.tabulate(64)(_ => rnd.nextFloat() * 2f - 1f))
    val vecs = (qs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) } ++
      qs.zipWithIndex.map { case (v, i) => ((i + 10).toLong, v, 1) } ++
      (20 until 50).map(i =>
        (i.toLong + 10L, Array.tabulate(64)(_ => rnd.nextFloat() * 2f - 1f), 2)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.signHammingRecall(vecs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet == Set(16, 32, 63))
    out.values.foreach { case (nq, np, nh) =>
      assert(nq == 10L && np == 100L && nh >= 10L && nh <= 100L,
        s"got $out")
    }
    // every query's twin is in BOTH top-k lists → at least the 10
    // twin hits at every budget (a twin is identical even at 16 bits)
  }

  test("shardPlan: first-fit shards — a straddling doc lands in the " +
    "shard its first token falls in; shards overfill, never underfill") {
    import spark.implicits._
    import graft.operators.Corpus
    // source s: docs of 1500, 800, 900, 1900 tokens, budget 2000:
    // cum-before = 0, 1500, 2300, 3200 → shards 0, 0, 1, 1
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(1500), "s"), (2L, words(800), "s"),
      (3L, words(900), "s"), (4L, words(1900), "s"))
      .toDF("doc_id", "text", "source")
    val out = Corpus.shardPlan(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 2L, 2300L, 1L, 2L),
      (1L, 2L, 2800L, 3L, 4L)), out.mkString(";"))
  }

  test("contamination_ngram catches a planted verbatim passage the " +
    "whole-doc Jaccard misses") {
    import spark.implicits._
    import graft.operators.Corpus
    // pick ids on each side of the engine's own md5 holdout predicate
    val holdout = Corpus.sampleDocs((1L to 64L).toDF("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val testId = holdout.min
    val trainId = (1L to 64L).find(i => !holdout(i)).get
    // a 13-token passage pasted from a LONG training doc into a test doc:
    // the shared 3-gram shingles (11 of them) drown in the 240-token
    // train doc's total, so whole-doc Jaccard ≈ 0.03 — far below the
    // registered 0.3 threshold — while the verbatim ≥13-token run is
    // caught by the token-level pass by construction
    val passage = (0 until 13).map(i => s"p$i").mkString(" ")
    val trainText = ((0 until 120).map(i => s"t$i") :+ passage).mkString(" ") +
      " " + (120 until 240).map(i => s"t$i").mkString(" ")
    val testText = (0 until 20).map(i => s"q$i").mkString(" ") +
      " " + passage + " " + (20 until 40).map(i => s"q$i").mkString(" ")
    val planted = Seq((testId, testText, "en", "src"),
      (trainId, trainText, "en", "src"))
      .toDF("doc_id", "text", "lang", "source")
    // the whole-doc decontamination pass is silent on this leak...
    assert(Corpus.contaminationCheck(planted, threshold = 0.3)
      .collect().isEmpty, "fixture no longer exercises the blind spot")
    // ...the 13-gram pass flags exactly the planted pair
    val hits = Corpus.contaminationNgrams(planted).collect()
    assert(hits.map(r => (r.getAs[Long]("test_doc"),
      r.getAs[Long]("train_doc"))).toSet == Set((testId, trainId)))
    assert(hits.head.getAs[Long]("n_shared") >= 1L)
  }

  test("dedup_fuzzy df-cap: loose cap ≡ uncapped; tight cap ⊆ uncapped") {
    val uncapped = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
    // no shingle reaches df > #docs, so a cap at the corpus size is a
    // no-op on the RESULT while the capping join is active in the PLAN
    val loose = Dedup.ngramJaccardPairs(docs, threshold = 0.5,
      maxDf = Some(docs.count().toInt)).collect()
    assert(loose.toSet == uncapped.toSet)
    // a tight cap only removes blocking shingles → output can only shrink,
    // and surviving (doc_a, doc_b) keys must come from the uncapped set
    val tight = Dedup.ngramJaccardPairs(docs, threshold = 0.5,
      maxDf = Some(2)).collect()
    def keys(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys(tight).subsetOf(keys(uncapped)))
  }

  test("CacheScope: default persists nothing; enabled scope releases on demand") {
    import org.apache.spark.storage.StorageLevel
    val df = docs.limit(10)
    // library default: track is a no-op — nothing to leak
    graft.operators.CacheScope.off.track(df)
    assert(df.storageLevel == StorageLevel.NONE)
    // enabled scope persists for its lifetime, release() unpersists
    val scope = graft.operators.CacheScope()
    scope.track(df)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    scope.release()
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("all-pairs nearDupPairs gate refuses oversized inputs") {
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(emb, rowLimit = 3)
    }
    assert(e.getMessage.contains("nearDupPairsLsh"))
    // at exactly the limit the gate lets it through and the query runs
    // end-to-end with the contract schema
    val under = Similarity.nearDupPairs(emb.limit(3), rowLimit = 3)
    assert(under.columns.toSeq == Seq("vec_a", "vec_b", "cos"))
    assert(under.count() >= 0)
  }

  test("partial top-k aggregator matches the Window formulation") {
    import org.apache.spark.sql.expressions.Window
    val p = Similarity.prepared(emb)
    val queries = p.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val corpus = p.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
      col("nrm").as("n_nrm"))
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("n_id"))
      .withColumn("cos", Similarity.cosine(
        Similarity.dotQ(col("q_qv"), col("n_qv")), col("q_nrm"), col("n_nrm")))
      // same defined-score exclusion the operator applies, so the
      // reference formulation mirrors its semantics on any fixture
      .filter(col("cos").isNotNull && !isnan(col("cos")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    val viaWindow = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 7)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
      .collect().toSet
    val viaAgg = Similarity.bruteForceTopK(emb, nQueries = 5, k = 7)
      .collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("int8Quantize: hand-computed codes, rounded dequantization error, " +
    "constant vectors code to zero, fixture corpus error stays bounded") {
    import spark.implicits._
    val fixture = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f, 0.25f), "a"),   // q = [0,500,1000,250]
      (2L, Array(0.5f, 0.5f), "b")                 // constant → all zero
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.int8Quantize(fixture).collect()
      .map(r => r.getLong(0) -> r).toMap
    // codes [0,127,255,63]; bucket-center recon [2,500,1002,249];
    // |err| = [2,0,2,1]
    val v1 = out(1L)
    assert(v1.getLong(1) == 4 && v1.getLong(2) == 0 && v1.getLong(3) == 1000)
    assert(v1.getLong(4) == 2L * 127 + 3L * 255 + 4L * 63) // 1271
    assert(v1.getLong(5) == 1 && v1.getLong(6) == 5)
    val v2 = out(2L)
    assert(v2.getLong(2) == 500 && v2.getLong(3) == 500 &&
      v2.getLong(4) == 0 && v2.getLong(5) == 0 && v2.getLong(6) == 0)
    // corpus-wide: per-element error can never exceed half a quant step
    // (+1 for the two integer truncations); repartition-invariant
    val a = Similarity.int8Quantize(emb).collect()
    val b = Similarity.int8Quantize(emb.repartition(7)).collect()
    assert(a.toSeq == b.toSeq)
    a.foreach { r =>
      val span = r.getLong(3) - r.getLong(2)
      assert(r.getLong(6) <= r.getLong(1) * (span / 510 + 1),
        s"vec ${r.getLong(0)} reconstruction error above the SQ8 bound")
      assert(r.getLong(5) >= 1, "a non-constant vector must saturate at max")
    }
  }

  test("clusterSizeHistogram: singleton/pair/triple shapes from a hand " +
    "pair relation; doc totals tile the corpus") {
    import spark.implicits._
    val d = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // pairs: {1,2} and {3,4,5} (chain); 6 singleton
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup.clusterSizeHistogram(d, pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(1L -> ((1L, 1L)), 2L -> ((1L, 2L)),
      3L -> ((1L, 3L))), s"got $out")
    val docsT = Tables.documents(spark, sf0)
    val pr = Dedup.ngramJaccardPairs(docsT, threshold = 0.5, maxDf = Some(100))
    val hist = graft.operators.Dedup.clusterSizeHistogram(docsT, pr).collect()
    assert(hist.map(_.getLong(2)).sum == docsT.count(),
      "clusters must tile the corpus")
  }

  test("sourceOverlap: a full mirror hits containment 1, disjoint " +
    "sources produce no row, counts symmetric-consistent") {
    import spark.implicits._
    val fix = Seq(
      (1L, "a b c d e", "s1"), (2L, "a b c d e", "s2"), // s2 mirrors s1
      (3L, "p q r s t u", "s3"))                         // disjoint
      .toDF("doc_id", "text", "source")
    val out = graft.operators.Dedup.sourceOverlap(fix).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out == Map(("s1", "s2") -> ((3L, 3L, 3L, 1.0))), s"got $out")
    val corpus = graft.operators.Dedup
      .sourceOverlap(Tables.documents(spark, sf0)).collect()
    corpus.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
      assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0)
    }
  }

  test("ngramNovelty: the first carrier owns a shingle, duplicates " +
    "score zero, totals reconcile to distinct shingles") {
    import spark.implicits._
    val fix = Seq((1L, "a b c d"), (2L, "a b c d"), // exact dup of 1
      (3L, "x y z w")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.ngramNovelty(fix).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 2L, 1.0)), "first doc owns everything")
    assert(out(2L) == ((2L, 0L, 0.0)), "an exact dup must be 0-novel")
    assert(out(3L) == ((2L, 2L, 1.0)))
    // the novel counts across docs tile the distinct shingle universe
    val corpus = graft.operators.Dedup.ngramNovelty(docs).collect()
    val distinctShingles = graft.operators.Dedup
      .shingleTable(docs).select("shingle").distinct().count()
    assert(corpus.map(_.getLong(2)).sum == distinctShingles,
      "every distinct shingle has exactly one first carrier")
  }

  test("tokenBudgetPrefix: whole-document boundary rule, per-shard " +
    "budgets independent, deterministic under partitioning") {
    import spark.implicits._
    import graft.operators.Corpus
    // one source, budget 5: docs of 3/3/3 tokens in md5 order — only
    // the first fits (3 ≤ 5), the second would hit 6 > 5 and is cut
    // WHOLE, and everything after stays cut
    val fix = Seq((1L, "a b c", "s1"), (2L, "d e f", "s1"),
      (3L, "g h i", "s1")).toDF("doc_id", "text", "source")
    val r = Corpus.tokenBudgetPrefix(fix, budgetPerShard = 5).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((3L, 1L, 9L, 3L)), "exactly one whole document fits budget 5")
    val docsT = Tables.documents(spark, sf0)
    val out = Corpus.tokenBudgetPrefix(docsT).collect()
    out.foreach { row =>
      assert(row.getLong(4) <= 2000L, "kept tokens exceed the budget")
      assert(row.getLong(2) <= row.getLong(1))
      assert(row.getDouble(6) <= 1.0)
    }
    assert(out.toSeq ==
      Corpus.tokenBudgetPrefix(docsT.repartition(7)).collect().toSeq)
  }

  test("randomProjectionAudit: projections match a driver-side replay, " +
    "ratios concentrate (the JL property), deterministic") {
    val out = Similarity.randomProjectionAudit(emb).collect()
    assert(out.length == emb.count())
    // independent replay of one vector's projection
    val v0 = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
      .map(x => math.round(x.toDouble * 1000))
    val pn = (0 until 16).map { j =>
      val d = v0.indices.map(i => v0(i) * Similarity.rpWeight(j, i)).sum
      d * d
    }.sum
    val r0 = out.find(_.getLong(0) == 0L).get
    assert(r0.getLong(2) == pn, "projection diverged from direct replay")
    // JL concentration: the ratio's spread is bounded — relative
    // stddev of log-ratio small; assert the loose envelope that a
    // broken projection (dropped dim, biased weights) violates
    val ratios = out.map(_.getDouble(3)).filter(_ > 0)
    val meanR = ratios.sum / ratios.length
    assert(ratios.count(r => r > meanR / 4 && r < meanR * 4) >
      ratios.length * 0.95,
      "norm ratios disperse far beyond the JL envelope")
  }

  test("topEigvec: hand-replayed power iteration on a known dominant " +
    "axis, Rayleigh approaches the top eigenvalue, deterministic") {
    import spark.implicits._
    // G = [[5,0],[0,1]] (quantized *1e-3 vectors keep integers exact):
    // x0=(1,1) → y1=(5,1) → x1=(256,51) → y2=(1280,51) → x2=(256,10)
    val fix = Seq((1L, Array(0.002f, 0.0f), 0),
      (2L, Array(0.001f, 0.0f), 0), (3L, Array(0.0f, 0.001f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.topEigvec(fix, dim = 2).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 256L, 1L -> 10L))
    val rq = out.head.getDouble(2)
    assert(rq == 327780.0 / 65636.0, s"rayleigh $rq")
    assert(math.abs(rq - 5.0) < 0.01,
      "2 iterations must already approach the dominant eigenvalue 5")
    // corpus: 64 components, dominant component hits ±rescale, stable
    val full = Similarity.topEigvec(emb).collect()
    assert(full.length == 64)
    assert(full.map(r => math.abs(r.getLong(1))).max == 256L)
    assert(full.head.getDouble(2) > 0, "PSD Gram must give positive RQ")
    assert(full.toSeq ==
      Similarity.topEigvec(emb.repartition(7)).collect().toSeq)
  }

  test("signBalance: per-dim pos/neg/zero census with truncating ppm — " +
    "a constant-sign dim reads as uninformative") {
    import spark.implicits._
    val fix = Seq((1L, Array(0.001f, -0.001f), 0),
      (2L, Array(0.002f, 0.0f), 0), (3L, Array(-0.001f, 0.003f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.signBalance(fix, dim = 2).collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq(0L, 2L, 1L, 0L, 666666L),
      Seq(1L, 1L, 1L, 1L, 333333L)), out.mkString(";"))
    // corpus: every dim splits somewhere strictly inside (0, 1) —
    // no constant bit in the real embedding table
    val re = Similarity.signBalance(emb).collect()
    assert(re.length == 64)
    assert(re.forall(r => r.getLong(4) > 0L && r.getLong(4) < 1000000L),
      "a degenerate constant-sign dimension appeared")
  }

  test("isotropyProfile: hand Gram — exact trace, top_share is the " +
    "Rayleigh over the trace; collapsed fixture reads near 1") {
    import spark.implicits._
    // same G = [[5,0],[0,1]] fixture as topEigvec: trace = 6,
    // rayleigh = 327780/65636 ≈ 4.994 → top_share ≈ 0.832
    val fix = Seq((1L, Array(0.002f, 0.0f), 0),
      (2L, Array(0.001f, 0.0f), 0), (3L, Array(0.0f, 0.001f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.isotropyProfile(fix, dim = 2).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L, r.toSeq.toString)
    assert(r.getDouble(3) == (327780.0 / 65636.0) / 6.0,
      s"top_share ${r.getDouble(3)}")
    // a rank-1 (fully collapsed) cloud concentrates all variance on
    // the top direction: top_share → 1
    val collapsed = Seq((1L, Array(0.001f, 0.001f), 0),
      (2L, Array(0.002f, 0.002f), 0), (3L, Array(0.003f, 0.003f), 0))
      .toDF("vec_id", "embedding", "label")
    val rc = Similarity.isotropyProfile(collapsed, dim = 2).collect().head
    assert(rc.getDouble(3) > 0.99, s"collapsed share ${rc.getDouble(3)}")
    // the real corpus sits strictly between isotropic and collapsed
    val re = Similarity.isotropyProfile(emb).collect().head
    assert(re.getDouble(3) > 1.0 / 64.0 && re.getDouble(3) <= 1.0,
      s"corpus share ${re.getDouble(3)}")
  }

  test("normHistogram: extremes land in the first and last bucket, " +
    "bins tile the corpus, repartition-invariant") {
    import spark.implicits._
    val fix = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(2.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val m = Similarity.normHistogram(fix).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // norms 1e6 (x2) and 4e6: lo bucket holds both 1e6 rows, hi the 4e6
    assert(m == Map(0L -> ((2L, 1000000L, 1000000L)),
      15L -> ((1L, 4000000L, 4000000L))), s"got $m")
    val out = Similarity.normHistogram(emb).collect()
    assert(out.map(_.getLong(1)).sum == emb.count())
    assert(out.forall(r => (0L until 16L).contains(r.getLong(0))))
    assert(out.toSeq ==
      Similarity.normHistogram(emb.repartition(7)).collect().toSeq)
  }

  test("ivfpqTopK: shortlist-rerank recovers most of the probe ceiling, " +
    "output is exact-cosine ranked, deterministic under partitioning") {
    val out = Similarity.ivfpqTopK(emb).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 10, s"query $q: ${rows.length} rows")
      val cs = rows.sortBy(_.getLong(1)).map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"query $q not cosine-ranked")
    }
    def recallOf(res: Array[org.apache.spark.sql.Row]): Double = {
      val truth = Similarity.bruteForceTopK(emb).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
      val mine = res.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
      truth.map { case (q, t) =>
        (t & mine.getOrElse(q, Set.empty)).size.toDouble / t.size }
        .sum / truth.size
    }
    val pqRecall = recallOf(out)
    val ivfRecall = recallOf(Similarity.ivfTopK(emb).collect())
    // the compressed-code path must stay close to the exact-rerank IVF
    // on the same probes — a broken codebook/ADC collapses this gap
    assert(pqRecall >= ivfRecall - 0.15,
      s"IVF-PQ recall $pqRecall fell far below the IVF ceiling $ivfRecall")
    assert(out.toSeq ==
      Similarity.ivfpqTopK(emb.repartition(7)).collect().toSeq)
    // RESIDUAL coding (round 12): same composite, codes on v − c(v).
    // Residuals concentrate the code budget on within-list detail, so
    // the residual ADC must not fall below the raw-vector ADC's recall
    // (minus slack — at this corpus both shortlists rerank exactly),
    // and the full pipeline stays deterministic under partitioning.
    val res = Similarity.ivfpqResidualTopK(emb).collect()
    res.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length == 10, s"residual query $q: ${rows.length} rows")
    }
    val resRecall = recallOf(res)
    assert(resRecall >= pqRecall - 0.1,
      s"residual recall $resRecall below raw-code recall $pqRecall")
    assert(res.toSeq ==
      Similarity.ivfpqResidualTopK(emb.repartition(7)).collect().toSeq)
  }

  test("lshBandStats: identical docs congregate in every band, the " +
    "candidate mass counts their pairs, a no-shingle doc drops out") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val fix = Seq((1L, shared), (2L, shared), (3L, shared),
      (4L, "completely different words with other content here now"),
      (5L, "xy")).toDF("doc_id", "text") // doc 5: too short for 3-grams
    val r = Dedup.lshBandStats(fix).collect()
    assert(r.length == 16, "one row per band")
    r.foreach { row =>
      // docs 1-3 share identical signatures -> one bucket of >= 3 in
      // EVERY band; doc 5 has no shingles and must not appear anywhere
      assert(row.getLong(2) == 4L, s"band ${row.getLong(0)}: n_docs")
      assert(row.getLong(3) == 3L, s"band ${row.getLong(0)}: max_bucket")
      assert(row.getLong(4) == 1L && row.getLong(5) == 3L,
        s"band ${row.getLong(0)}: multi/candidates")
    }
    assert(Dedup.lshBandStats(fix.repartition(5)).collect().toSeq ==
      r.toSeq)
  }

  test("pca2: axis-aligned fixture recovers both principal directions, " +
    "rayleigh ordering and orthogonality hold, repartition-invariant") {
    import spark.implicits._
    // dominant mass on axis 0, second mass on axis 1, nothing else —
    // the two principal directions ARE the axes
    val fix = ((1L to 5L).map(i => (i, Array(1.0f, 0f, 0f, 0f), 0)) ++
      (6L to 9L).map(i => (i, Array(0f, 0.8f, 0f, 0f), 0)))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.pca2(fix, dim = 4).collect()
    val byComp = r.map(x => x.getLong(0) -> x).toMap
    // x1 DOMINATED by comp 0, x2 by comp 1 — two fixed-grid iterations
    // keep a (λ2/λ1)² leak on the off axis by construction, so assert
    // dominance, not exact axes; comps 2/3 carry no mass at all
    assert(math.abs(byComp(0L).getLong(1)) == 256L &&
      math.abs(byComp(1L).getLong(1)) < 128L, s"x1 not axis-0-dominant: ${r.toSeq}")
    assert(math.abs(byComp(1L).getLong(2)) == 256L &&
      math.abs(byComp(0L).getLong(2)) < 128L, s"x2 not axis-1-dominant: ${r.toSeq}")
    assert(byComp(2L).getLong(1) == 0L && byComp(3L).getLong(2) == 0L)
    val (rq1, rq2) = (r.head.getDouble(3), r.head.getDouble(4))
    assert(rq1 > rq2 && rq2 > 0, s"rayleigh ordering broke: $rq1 vs $rq2")
    val s1f = r.map(x => x.getLong(1) * x.getLong(1)).sum
    assert(math.abs(r.head.getLong(5)) <= s1f / 4,
      s"deflation left ortho ${r.head.getLong(5)} vs s1 $s1f")
    // corpus: deterministic under partitioning, deflation keeps the
    // integer ortho audit small relative to s1 = sum(x1^2)
    val full = Similarity.pca2(emb).collect()
    assert(full.toSeq ==
      Similarity.pca2(emb.repartition(7)).collect().toSeq)
    val s1 = full.map(x => x.getLong(1) * x.getLong(1)).sum
    assert(math.abs(full.head.getLong(5)) <= s1 / 4,
      s"ortho ${full.head.getLong(5)} not small vs s1 $s1 — deflation broken?")
    assert(full.head.getDouble(3) >= full.head.getDouble(4),
      "corpus rayleigh1 must dominate rayleigh2")
  }

  test("ivfInertiaWith: n <= nlist makes every vector its own centroid " +
    "(zero inertia); corpus members reconcile and sse replays the mean") {
    import spark.implicits._
    val fix = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
        (3L, Array(0.7f, 0.7f), 0))
      .toDF("vec_id", "embedding", "label")
    val cent = Similarity.trainCentroids(Similarity.prepared(fix),
      nlist = 16, iters = 2)
    val z = Similarity.ivfInertiaWith(fix, cent).collect()
    assert(z.length == 3 && z.forall(r =>
      r.getLong(1) == 1L && r.getLong(2) == 0L && r.getDouble(3) == 0.0),
      s"got ${z.toSeq}")
    val corpusCent = Similarity.trainCentroids(Similarity.prepared(emb),
      nlist = 16, iters = 2)
    val full = Similarity.ivfInertiaWith(emb, corpusCent).collect()
    assert(full.map(_.getLong(1)).sum == emb.count())
    full.foreach { r =>
      assert(r.getLong(2) == (r.getDouble(3) / r.getLong(1)).toLong ||
        math.abs(r.getLong(2) - r.getDouble(3) / r.getLong(1)) <= 1.0,
        s"mean/sse inconsistent: $r")
    }
  }

  test("embeddingOutliers: 9-inlier/1-outlier fixture — exact integer " +
    "mean distance, the far vector alone crosses 4x") {
    import spark.implicits._
    val fix = ((1L to 9L).map(i => (i, Array(1.0f, 0.0f), 0)) :+
        ((10L, Array(9.0f, 0.0f), 0)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingOutliers(fix, dim = 2).collect()
    assert(out.length == 1)
    val r = out.head
    // centroid 1800: dists 9x640_000 + 51_840_000 → mean 5_760_000;
    // only the far vector exceeds 4x
    assert((r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((0, 10L, 5760000L, 1L, 100000L)), s"got $r")
  }

  test("centroidClassify: separable fixture classifies perfectly, " +
    "corpus matrix covers every vector and is repartition-invariant") {
    import spark.implicits._
    // two labels on opposite axes → centroids are the axes, zero error
    val fix = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val m = Similarity.centroidClassify(fix, dim = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m == Map((0, 0) -> 2L, (1, 1) -> 2L), s"got $m")
    // degenerate rows (NULL / off-dim vectors) are gated like every
    // other embed op — they must not corrupt their label's centroid
    val degenerate = Seq(
      (5L, null.asInstanceOf[Array[Float]], 0),
      (6L, Array(9.9f), 0), (7L, Array(1f, 2f, 3f), 1))
      .toDF("vec_id", "embedding", "label")
    val m2 = Similarity.centroidClassify(fix.unionByName(degenerate),
        dim = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m2 == m, s"degenerate rows leaked into the centroids: $m2")
    val full = Similarity.centroidClassify(emb).collect()
    assert(full.map(_.getLong(2)).sum == emb.count())
    // the synthetic labels are clustered: the diagonal must beat the
    // uniform-assignment share by a wide margin
    val diag = full.filter(r => r.getInt(0) == r.getInt(1))
      .map(_.getLong(2)).sum
    assert(diag.toDouble / emb.count() > 0.3,
      s"diagonal mass $diag suspiciously low — centroids broken?")
    assert(full.toSeq ==
      Similarity.centroidClassify(emb.repartition(7)).collect().toSeq)
  }

  test("dedupRateReport: hand-built pair relation splits within/cross, " +
    "suppressed set is distinct doc_b, zero-dup sources report zeros") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("doc_id", "source")
    // pairs: (1,2) within a; (2,3) cross a/b; (3,4) within b; doc 4
    // duplicates twice → counted once in n_dup_docs
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup.dedupRateReport(d, pairs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("a") == ((2L, 1L, 1L, 2L)), s"got ${out("a")}")
    // b: docs {3,4}; dup docs {3,4}; within (3,4); cross (2,3) + (1,4)
    assert(out("b") == ((2L, 2L, 1L, 2L)), s"got ${out("b")}")
    assert(out("c") == ((1L, 0L, 0L, 0L)), "zero-dup source must report 0s")
    // corpus reconciliation against the raw pair relation
    val pr = Dedup.ngramJaccardPairs(docs, threshold = 0.5,
      maxDf = Some(100))
    val rep = graft.operators.Dedup.dedupRateReport(docs, pr).collect()
    assert(rep.map(_.getLong(1)).sum == docs.count())
    val totalWithin = rep.map(_.getLong(3)).sum
    val totalCrossEnds = rep.map(_.getLong(4)).sum
    assert(totalWithin + totalCrossEnds / 2 == pr.count(),
      "within + cross/2 must reconcile to the pair count")
  }

  test("rangeSearch: one structural row per query, LSH matches are a " +
    "subset of the exact radius set, best match agrees where found") {
    import org.apache.spark.sql.functions.{broadcast => bc}
    val out = Similarity.rangeSearch(emb, nQueries = 10, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3))))).toMap
    assert(out.keySet == (0L until 10L).toSet, "structural per-query rows")
    // exact ground truth by brute force
    val p = Similarity.prepared(emb)
    val q = p.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"))
    val exact = p.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
        col("nrm").as("n_nrm"))
      .join(bc(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", Similarity.cosine(
        Similarity.dotQ(col("q_qv"), col("n_qv")), col("q_nrm"), col("n_nrm")))
      .filter(!isnan(col("cos")) && col("cos") >= 0.3)
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n"), max(col("cos")).as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out.foreach { case (qid, (ncand, nm, mc)) =>
      val (exN, exMx) = exact.getOrElse(qid, (0L, Double.NaN))
      assert(nm <= exN, s"query $qid: LSH found more matches than exist")
      assert(nm <= ncand)
      mc.foreach(m => assert(m <= exMx + 1e-12,
        s"query $qid: max_cos above the exact best"))
    }
    // the approximation must actually find things on this corpus
    assert(out.values.map(_._2).sum > 0, "radius search found nothing at 0.3")
  }

  test("pqCodebookStats: all-seeds fixture encodes error-free, corpus " +
    "occupancy tiles every subspace, training beats the seed codebook, " +
    "partitioning-invariant") {
    import spark.implicits._
    // dim 4, 2 subspaces, every vector a seed → each sub-vector finds a
    // zero-distance code, so the encode is EXACT by construction
    val fix = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f), "a"),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f), "b"),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f), "c"),
      (3L, Array(1.0f, 0.0f, 1.0f, 0.0f), "d"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.pqCodebookStats(fix, dim = 4, m = 2, kCodes = 4,
      iters = 2, trainCap = 16).collect()
    assert(out.map(_.getLong(3)).sum == 0, "seed-complete corpus must " +
      "reconstruct exactly")
    assert(out.map(_.getLong(2)).sum == 2L * 4, "every (vector, subspace) " +
      "must be coded exactly once")
    // real corpus: occupancy tiles each subspace, codebook stays bounded
    val full = Similarity.pqCodebookStats(emb).collect()
    val bySub = full.groupBy(_.getLong(0))
    assert(bySub.size == Similarity.PqSubspaces)
    val n = emb.count()
    bySub.values.foreach { rows =>
      assert(rows.length <= Similarity.PqCodes)
      assert(rows.map(_.getLong(2)).sum == n)
    }
    // trained codebook must beat the raw md5 seeds it started from
    val seedErr = Similarity.pqCodebookStats(emb, iters = 0).collect()
      .map(_.getLong(3)).sum
    assert(full.map(_.getLong(3)).sum < seedErr,
      "2 Lloyd's rounds must reduce total squared error vs the seeds")
    // deterministic under any partitioning
    val b = Similarity.pqCodebookStats(emb.repartition(7)).collect()
    assert(full.toSeq == b.toSeq)
  }

  test("substringDupSpans: cross-doc run merges to one span, within-doc " +
    "repeat yields two, short and unique docs report zero") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"r$i").mkString(" ")      // 10 shared tokens
    val rep = (1 to 8).map(i => s"w$i").mkString(" ")       // 8-token repeat
    val fixture = Seq(
      (1L, run + " u1 u2 u3 u4 u5"),                        // run at [1,10]
      (2L, "v1 v2 " + run + " v3"),                         // run at [3,12]
      (3L, rep + " z " + rep),                              // repeat at [1,8] + [10,17]
      (4L, (1 to 12).map(i => s"q$i").mkString(" ")),       // unique, no dup
      (5L, "s1 s2 s3")                                      // shorter than w
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(fixture, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // overlap-chain merge: the three duplicated grams of the 10-token run
    // collapse to ONE span of width 10 on both hosts
    assert(out(1L) == ((15L, 1L, 10L)))
    assert(out(2L) == ((13L, 1L, 10L)))
    // within-doc repetition: both occurrences flagged, separated by the
    // unshared 'z' so they stay two islands of 8
    assert(out(3L) == ((17L, 2L, 16L)))
    assert(out(4L) == ((12L, 0L, 0L)))
    // a doc below the gram width hosts no gram but stays in the summary
    assert(out(5L) == ((3L, 0L, 0L)))
  }

  test("substringDupSpans: partitioning-invariant and ratio consistent " +
    "on the fixture corpus") {
    val a = Dedup.substringDupSpans(docs).collect()
    val b = Dedup.substringDupSpans(docs.repartition(7)).collect()
    assert(a.toSeq == b.toSeq)
    a.foreach { r =>
      assert(r.getDouble(4) ==
        r.getLong(3).toDouble / r.getLong(1).toDouble)
      assert(r.getLong(3) <= r.getLong(1))
    }
    // the synthetic corpus is massively templated — the pass must find
    // real duplication, not vacuously pass on an all-zero column
    assert(a.exists(_.getLong(2) > 0))
  }

  test("semanticDedup: per-vector dup counts equal the intra-cluster " +
    "subset of the exact all-pairs relation; keep flag is exact") {
    val out = Similarity.semanticDedup(emb, threshold = 0.4).collect()
    assert(out.length == emb.count(), "one row per corpus vector")
    val cent = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cent_id")).toMap
    // reference: exact all-pairs near-dups, filtered to co-clustered a<b
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.4).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    val wantDupOf = pairs.filter { case (a, b) => cent(a) == cent(b) }
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.getAs[Long]("n_dup_of") == wantDupOf.getOrElse(id, 0L),
        s"vec $id dup count")
      assert(r.getAs[Boolean]("is_kept") == !wantDupOf.contains(id),
        s"vec $id keep flag")
    }
    // non-vacuous: the fixture actually contains semantic duplicates,
    // and dedup keeps strictly fewer than everything
    assert(wantDupOf.nonEmpty, "fixture has no intra-cluster near-dups")
    assert(out.count(_.getAs[Boolean]("is_kept")) < out.length)
  }

  test("semanticPrune: keep-set reconciles per cluster (below-cap + " +
    "min(1, above-cap)), the survivor is the centroid-nearest, and " +
    "the prune actually bites") {
    val cap = 0.35
    val out = Similarity.semanticPrune(emb, cap = cap).collect()
    assert(out.length == emb.count(), "one row per corpus vector")
    val byCluster = out.groupBy(_.getAs[Long]("cent_id"))
    byCluster.foreach { case (cid, rows) =>
      def cos(r: org.apache.spark.sql.Row) =
        Option(r.getAs[java.lang.Double]("c_cos")).map(_.doubleValue())
      val above = rows.filter(r =>
        cos(r).exists(c => !c.isNaN && c >= cap))
      val below = rows.filterNot(r =>
        cos(r).exists(c => !c.isNaN && c >= cap))
      // every below-cap member kept; exactly one above-cap survivor
      assert(below.forall(_.getAs[Boolean]("keep")), s"cluster $cid")
      val keptAbove = above.filter(_.getAs[Boolean]("keep"))
      assert(keptAbove.length == math.min(1, above.length), s"cluster $cid")
      // the survivor is the centroid-nearest (max cos, tie min vec_id)
      if (above.nonEmpty) {
        val want = above.maxBy(r =>
          (cos(r).get, -r.getAs[Long]("vec_id")))
        assert(keptAbove.head.getAs[Long]("vec_id") ==
          want.getAs[Long]("vec_id"), s"cluster $cid survivor")
      }
    }
    // non-vacuous both ways: some cluster drops members, and kept
    // strictly exceeds the cluster count (below-cap neighbors survive)
    assert(out.exists(!_.getAs[Boolean]("keep")), "prune never bit")
    assert(out.count(_.getAs[Boolean]("keep")) > byCluster.size)
  }

  test("semanticContamination: match counts equal the cross-split " +
    "intra-cluster subset of exact all-pairs; one row per test vector") {
    val out = Similarity.semanticContamination(emb, threshold = 0.4).collect()
    // cluster assignment from the dedup sibling (same quantizer)
    val cent = Similarity.semanticDedup(emb, threshold = 0.4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cent_id")).toMap
    def isTest(id: Long): Boolean = {
      val c = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(id.toString).charAt(0)
      c == '0' || c == '1'
    }
    assert(out.length == cent.keys.count(isTest), "one row per test vector")
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.4).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    val want = pairs
      .filter { case (a, b) => cent(a) == cent(b) && isTest(a) != isTest(b) }
      .map { case (a, b) => if (isTest(a)) a else b }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("test_vec")
      assert(r.getAs[Long]("n_train_matches") == want.getOrElse(id, 0L),
        s"test vec $id match count")
      assert(r.getAs[Boolean]("contaminated") == want.contains(id))
    }
    assert(want.nonEmpty, "fixture has no cross-split semantic overlap")
  }

  test("multi-probe LSH: candidates are a superset of the single-probe " +
    "path, so per-query recall is monotonically >= — and it recovers " +
    "misses at equal table budget") {
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val truth = hits(Similarity.bruteForceTopK(emb, nQueries = 10, k = 10))
    val single = hits(Similarity.annTopK(emb, nQueries = 10, k = 10))
    val multi = hits(Similarity.annTopKMultiProbe(emb, nQueries = 10, k = 10))
    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }
        .sum.toDouble / truth.values.map(_.size).sum
    val (rs, rm) = (recall(single), recall(multi))
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    // non-vacuous at the fixture scale: the Hamming-1 probes must
    // actually recover something the base buckets missed
    assert(rm > rs, s"multi-probe recovered nothing (both at $rs)")
  }

  test("qualityModel: feature counts are structural (2n-1), empty docs " +
    "survive with zero score, weights replay the fixed model") {
    import spark.implicits._
    val fix = Seq(
      (1L, "alpha beta gamma"),   // 3 unigrams + 2 bigrams = 5 features
      (2L, "  x   y "),           // normalization collapses → 3 features
      (3L, ""),                   // no tokens → structural zero row
      (4L, "solo")                // 1 unigram, no bigram
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.qualityModel(fix).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_features"), r.getAs[Long]("score"),
          r.getAs[Boolean]("is_quality")))).toMap
    assert(out(1L)._1 == 5L)
    assert(out(2L)._1 == 3L)
    assert(out(3L) == ((0L, 0L, false)))
    assert(out(4L)._1 == 1L)
    // independent replay of the fixed weight table for doc 4's feature
    def weight(feat: String): Long = {
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(feat).take(7), 16)
      (h % 1024L) * 2654435761L % 2003L - 1001L
    }
    assert(out(4L)._2 == weight("solo"))
    assert(out(1L)._2 == Seq("alpha", "beta", "gamma",
      "alpha beta", "beta gamma").map(weight).sum)
    // corpus-level: one row per document, scores are not degenerate
    val corpus = graft.operators.TextAnalysis.qualityModel(docs).collect()
    assert(corpus.length == docs.count())
    assert(corpus.exists(_.getAs[Boolean]("is_quality")) &&
      corpus.exists(!_.getAs[Boolean]("is_quality")),
      "fixed model must split the corpus, not rubber-stamp it")
  }

  test("mipsTopK: magnitude matters — ranking diverges from cosine " +
    "where norms differ, zero vectors are legal scores, all integers") {
    import spark.implicits._
    val fix = Seq(
      (0L, Array(1.0f, 0.0f), "q"),
      (1L, Array(0.9f, 0.1f), "a"),  // best ANGLE, small norm
      (2L, Array(5.0f, -2.0f), "b"), // big norm, worse angle — MIPS winner
      (3L, Array(0.0f, 0.0f), "z"))  // zero vector: ip = 0, still ranked
      .toDF("vec_id", "embedding", "label")
    val mips = Similarity.mipsTopK(fix, nQueries = 1, k = 3).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    // exact integer dots of the ×1000 quantized vectors
    assert(mips(1L) == ((2L, 5000000L)), s"got $mips")
    assert(mips(2L) == ((1L, 900000L)))
    assert(mips(3L) == ((3L, 0L)), "zero vector must be a legal MIPS score")
    // cosine disagrees on the winner — the semantic the operator adds
    val cosTop = Similarity.bruteForceTopK(fix, nQueries = 1, k = 1)
      .collect().head.getAs[Long]("n_id")
    assert(cosTop == 1L, "fixture no longer separates MIPS from cosine")
  }

  test("lmPerplexity: bit-length surrogate replays independently, and " +
    "gibberish scores above the natural-text baseline it is meant to " +
    "filter") {
    import spark.implicits._
    val natural = "the cat sat on the mat and the cat sat again"
    val gibber = "qzxj vkwq pfzt qzxj"
    val fix = Seq((1L, natural), (2L, natural + " and on"), (3L, gibber),
      (4L, "a")) // < 2 chars after norm → no bigrams, no row
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.lmPerplexity(fix).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(!out.contains(4L), "sub-bigram doc must drop out")
    // independent driver-side replay of the whole model
    def normStr(s: String) = s.trim.toLowerCase.replaceAll(" +", " ")
    val texts = Map(1L -> natural, 2L -> (natural + " and on"),
      3L -> gibber).view.mapValues(t => normStr(t)).toMap
    val allBgs = texts.values.toSeq.flatMap(t => t.sliding(2).toSeq)
    val cb = allBgs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cu = cb.groupBy(_._1.take(1)).view
      .mapValues(_.values.sum).toMap
    def bitlen(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
    def cost(bg: String) = (bitlen(cu(bg.take(1))) - bitlen(cb(bg))).toLong
    texts.foreach { case (id, t) =>
      val bgs = t.sliding(2).toSeq
      assert(out(id)._1 == bgs.length.toLong, s"n_bigrams of $id")
      val want = bgs.map(cost).sum
      assert(out(id)._2 == want, s"lm_cost of $id: ${out(id)._2} vs $want")
      assert(out(id)._3 == 1000L * want / bgs.length, s"cost_milli of $id")
    }
    // the filter's job — demonstrated at corpus scale (a 3-doc fixture
    // makes gibberish SELF-predictable: its unique contexts always
    // continue the same way, so its conditional cost collapses; with a
    // real corpus behind the counts, rare bigrams in common contexts
    // price high, which is exactly the CCNet setup): inject one
    // gibberish doc into sf0's documents and it must land in the
    // worst-cost decile
    val gibberDoc = (9000001L,
      "qzxj vkwq pfzt bqgk xvzw jqkp zfxt wqzv kxjp qzxj vkwq pfzt")
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq(gibberDoc).toDF("doc_id", "text"))
    val scored = graft.operators.TextAnalysis.lmPerplexity(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val others = scored.removed(gibberDoc._1).values.toSeq.sorted
    val p90 = others(math.min(others.size - 1, (others.size * 9) / 10))
    assert(scored(gibberDoc._1) > p90,
      s"gibberish cost ${scored(gibberDoc._1)} not above corpus p90 $p90")
  }

  test("centroidDrift: identical halves read 1, orthogonal halves 0, " +
    "one-sided labels drop, zero halves read NULL") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0), // same
      (2L, Array(1.0f, 0.0f), 1), (3L, Array(0.0f, 1.0f), 1), // orth
      (4L, Array(1.0f, 1.0f), 2),                             // even only
      (6L, Array(0.0f, 0.0f), 3), (7L, Array(1.0f, 0.0f), 3)) // zero half
      .toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.centroidDrift(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(!out.contains(2), "one-sided label must be absent")
    assert(out(0)._1 == 1L && out(0)._2 == 1L)
    assert(math.abs(out(0)._3.get - 1.0) < 1e-14)
    assert(out(1)._3.get == 0.0)
    assert(out(3)._3.isEmpty, "zero-sum half must read NULL")
  }

  test("covarianceMatrix: hand-computed triangle, perfect correlation, " +
    "zero-variance dim yields NULL corr") {
    import spark.implicits._
    // dims 0,1 perfectly correlated (x, 2x); dim 2 constant
    val emb = Seq(
      (1L, Array(1.0f, 2.0f, 5.0f), 0),
      (2L, Array(2.0f, 4.0f, 5.0f), 0),
      (3L, Array(3.0f, 6.0f, 5.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.covarianceMatrix(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out.size == 6)
    // cov_num = n*Sxy - Sx*Sy on the x1000 integers
    assert(out((0, 0))._2 == "6000000")
    assert(out((0, 1))._2 == "12000000")
    assert(out((1, 1))._2 == "24000000")
    // corr is IEEE (sqrt·sqrt is an ulp above the exact square):
    // within 4 ulps of 1, identically on both engines by the fixed tree
    Seq((0, 0), (0, 1), (1, 1)).foreach { k =>
      val c = out(k)._3.get
      assert(math.abs(c - 1.0) < 1e-14, s"$k corr $c")
    }
    assert(out((0, 2)) == ((3L, "0", None)))
    assert(out((1, 2)) == ((3L, "0", None)))
    assert(out((2, 2)) == ((3L, "0", None)))
    // order-insensitive accumulation
    val out2 = graft.operators.Similarity.covarianceMatrix(emb.repartition(3))
      .collect().map(_.toSeq)
    assert(out2.toSet ==
      graft.operators.Similarity.covarianceMatrix(emb).collect()
        .map(_.toSeq).toSet)
  }

  test("normByLabel + centroidCosMatrix: hand vectors — exact norms, " +
    "cos 1 for parallel centroids, 0 for orthogonal") {
    import spark.implicits._
    import graft.operators.Similarity
    // label 0: (1,0) and (3,0) — centroid along x; label 1: (0,2) —
    // along y; label 2: (2,0) — parallel to label 0
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(3.0f, 0.0f), 0),
      (3L, Array(0.0f, 2.0f), 1), (4L, Array(2.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val norms = Similarity.normByLabel(emb).collect()
      .map(r => r.getInt(0) -> r).toMap
    // label 0: norms 1e6 and 9e6 -> min 1e6, max 9e6, sum 1e7, mean 5e6
    assert(norms(0).getLong(1) == 2L)
    assert(norms(0).getLong(2) == 1000000L && norms(0).getLong(3) == 9000000L)
    assert(norms(0).getString(4) == "10000000" && norms(0).getLong(5) == 5000000L)
    val cos = Similarity.centroidCosMatrix(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(5)).toMap
    assert(cos((0, 2)) == 1.0, s"parallel centroids: ${cos((0, 2))}")
    assert(cos((0, 1)) == 0.0 && cos((1, 2)) == 0.0)
  }

  test("dimDrift: a dimension whose mean walks between halves reads the " +
    "exact rational shift; a stable one reads 0") {
    import spark.implicits._
    import graft.operators.Similarity
    // ids 0,1 = first half (mid = (3+1)/2 = 2); ids 2,3 = second
    val emb = Seq(
      (0L, Array(1.0f, 5.0f), 0), (1L, Array(1.0f, 5.0f), 0),
      (2L, Array(2.0f, 5.0f), 0), (3L, Array(2.0f, 5.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.dimDrift(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // dim 0: means 1000 -> 2000 quantized => shift 1000 * 1e6 / ... =
    // (4000*2 - 2000*2) * 1e6 div 4 = 1000000000; dim 1 stable -> 0
    assert(out(0L) == 1000000000L && out(1L) == 0L, out)
  }

  test("crossSourceDupMatrix / wordLenHist / hapaxRatio / langMix: " +
    "hand corpus — shared twins counted once, clamp and ppm exact") {
    import spark.implicits._
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "same text", "en", "s1", 9L),
      (2L, "same text", "en", "s2", 9L),     // cross-source twin
      (3L, "same text", "en", "s2", 9L),     // in-source dup: still ONE distinct
      (4L, "aa bb aa", "en", "s1", 8L),
      (5L, "supercalifragilisticexpialidocious", "de", "s1", 34L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val x = Corpus.crossSourceDupMatrix(docs).collect()
    assert(x.map(_.toSeq).toSeq == Seq(Seq("s1", "s2", 1L)), x.mkString(";"))
    val wl = Corpus.wordLenHist(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // en: 'same'(4) x3, 'text'(4) x3, 'aa'(2) x2, 'bb'(2) x1 -> len 4 -> 6, len 2 -> 3
    assert(wl(("en", 4L)) == 6L && wl(("en", 2L)) == 3L)
    // de: the 34-char word clamps to 17
    assert(wl(("de", 17L)) == 1L)
    val hx = Corpus.hapaxRatio(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // s2: tokens same/text x2 each -> vocab 2, hapax 0
    assert(hx("s2").getLong(2) == 2L && hx("s2").getLong(3) == 0L)
    val lm = Corpus.langMix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    // s1: 2 en of 3 docs -> 666666 ppm; 1 de -> 333333
    assert(lm(("s1", "en")) == 666666L && lm(("s1", "de")) == 333333L)
  }

  test("yuleK: hand tf spectra — repetition reads a positive K, an " +
    "all-hapax doc reads exactly 0") {
    import spark.implicits._
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "x x x y", "en", "rep", 7L),      // f: x=3, y=1 → M1=4, M2=10
      (2L, "a b c", "en", "flat", 5L))       // all hapax → M2 = M1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.yuleK(docs).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // K_milli = 10⁷·(10−4) div 16 = 3750000 (classic K = 3750·... /1000)
    assert(out("rep") == Seq(4L, 2L, 3750000L), out.toString)
    assert(out("flat") == Seq(3L, 3L, 0L), out.toString)
  }

  test("sourceTvMatrix: identical shards read TV 0, disjoint registers " +
    "read ~1e6, the OOV bucket absorbs tail mass") {
    import spark.implicits._
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "aa aa bb", "s1"), (2L, "aa aa bb", "s2"),   // identical mix
      (3L, "zz zz zz", "s3"))                           // disjoint register
      .toDF("doc_id", "text", "source")
    val out = Corpus.sourceTvMatrix(docs, topN = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("s1", "s2")) == 0L, s"identical mixes must read 0: $out")
    // s1 vs s3: p(s1) = {aa: 666666, bb: 333333}; s3 all mass on zz —
    // zz is IN the top-2 vocab (freq 3 beats bb's 2): TV =
    // (666666 + 333333 + 1000000) div 2
    assert(out(("s1", "s3")) == 999999L, s"got $out")
  }

  test("keepBestDedup: one survivor per prefix group by (source, doc_id) " +
    "priority; within-source dups also yield; Σkept = #groups") {
    import spark.implicits._
    import graft.operators.Corpus
    val docs = Seq(
      (5L, "same text", "en", "s2", 9L),   // group A, loses to s1
      (9L, "same text", "en", "s1", 9L),   // group A winner (source < s2)
      (1L, "same text", "en", "s1", 9L),   // group A: s1 within-dup — doc 1 < 9 wins
      (7L, "only here", "en", "s3", 9L))   // singleton group B
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.keepBestDedup(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // group A winner is (s1, doc 1): s1 keeps 1 of 2, s2 yields its 1
    assert(out("s1") == ((2L, 1L, 1L)), s"s1 ${out("s1")}")
    assert(out("s2") == ((1L, 0L, 1L)), s"s2 ${out("s2")}")
    assert(out("s3") == ((1L, 1L, 0L)), s"s3 ${out("s3")}")
    assert(out.values.map(_._2).sum == 2L, "Σkept must equal #groups")
  }

  test("lmKneserNey: continuation weighting is real — a frequent bigram " +
    "costs less than a hapax, and the unseen-context share rides " +
    "N1+ counts, all exact integers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abab"), (2L, "abab"), (3L, "xy"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.lmKneserNey(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // bigrams: doc1/doc2 = ab,ba,ab ×2 docs → c(ab)=4 c(ba)=2; doc3: xy c=1
    // model: T=3 types. u='a': cu=4, nfollow=1; u='b': cu=2 nf=1; u='x': 1,1
    // v='b': nprec=1; v='a': 1; v='y': 1
    // cost(ab) = bitlen(4·4·3) − bitlen(3·max(16−3,0)+3·1·1)
    //          = bitlen(48) − bitlen(42) = 6 − 6 = 0
    // cost(ba) = bitlen(4·2·3) − bitlen(3·5+3) = bitlen(24)−bitlen(18) = 5−5=0
    // cost(xy) = bitlen(4·1·3) − bitlen(3·1+3) = bitlen(12)−bitlen(6) = 4−3=1
    assert(out(1L) == ((3L, 0L)), s"doc1 ${out(1L)}")
    assert(out(3L) == ((1L, 1L)), s"doc3 ${out(3L)}")
    // a rarer bigram must never cost less than a more frequent one with
    // the same context mass — monotonicity sanity on the real corpus
    val real = graft.operators.TextAnalysis.lmKneserNey(Tables.documents(spark, sf0))
      .collect()
    assert(real.nonEmpty && real.forall(_.getLong(2) >= 0L))
  }

  test("rboAudit: identical lists score the full truncated mass " +
    "1 - p^k, a reversal scores the closed-form scramble value, " +
    "disjoint lists score 0 but still emit the query row") {
    import spark.implicits._
    val k = 10
    val p = Similarity.RboPersistence
    val ws = Similarity.rboWeights(k, p)
    def ranked(q: Long, items: Seq[Long], col3: String) =
      items.zipWithIndex.map { case (n, i) => (q, n, (i + 1).toLong) }
        .toDF("q_id", "n_id", col3)
    val exact = ranked(0L, 1L to 10L, "ra")
      .union(ranked(1L, 1L to 10L, "ra"))
      .union(ranked(2L, 1L to 10L, "ra"))
    val ann = ranked(0L, 1L to 10L, "rb")                  // identical
      .union(ranked(1L, (1L to 10L).reverse, "rb"))        // reversed
      .union(ranked(2L, 11L to 20L, "rb"))                 // disjoint
    val out = Similarity.rboFromRanked(exact, ann, k, p).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    // identical: sum of all k weights telescopes to 1 - p^k
    assert(math.abs(out(0L)._2 - (1 - math.pow(p, k))) < 1e-12,
      s"identical-list RBO: ${out(0L)}")
    assert(out(0L)._1 == 10L)
    // reversed: item at exact rank i sits at ann rank k+1-i, so each
    // contributes w(max(i, k+1-i)) — strictly below the identical mass
    val rev = (1 to k).map(i => ws(math.max(i, k + 1 - i) - 1)).sum
    assert(math.abs(out(1L)._2 - rev) < 1e-12, s"reversed RBO: ${out(1L)}")
    assert(out(1L)._2 < out(0L)._2)
    // disjoint: no common item, query still emits a structural zero
    assert(out(2L) == ((0L, 0.0)))
  }

  test("rboAudit on the corpus: every query emits, scores sit in " +
    "[0, 1 - p^k], and order-awareness lower-bounds by the recall " +
    "overlap ratio") {
    val out = Similarity.rboAudit(emb).collect()
    assert(out.length == 10)
    val cap = 1 - math.pow(Similarity.RboPersistence, 10)
    out.foreach { r =>
      val (nc, rbo) = (r.getLong(1), r.getDouble(2))
      assert(rbo >= 0.0 && rbo <= cap + 1e-12, s"out of range: $r")
      // zero common items iff zero score
      assert((nc == 0L) == (rbo == 0.0), s"inconsistent: $r")
    }
  }
}
