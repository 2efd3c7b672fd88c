package graft

import org.apache.spark.sql.functions._

/** Degenerate-input robustness: every registered query must PLAN AND RUN
  * on empty tables — an empty source partition, a filter that matches
  * nothing, or a fresh pipeline are all routine at scale, and a query
  * that throws on zero rows (a bare .head() on an aggregate, a null
  * reduction, sequence(1, 0) going descending) takes the whole job down
  * with it. Result contract: zero or more rows, never an exception. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Scratch.dir("graft_empty_sf_").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      // schema-preserving empty copy of each table (raw parquet read, so
      // the NANOS-timestamp shape of events survives verbatim)
      spark.read.parquet(s"$sf0/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("null text / null embedding rows flow through the core operator " +
    "families without throwing, and never surface as results") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    val docs = Tables.documents(spark, sf0).limit(20)
      .unionByName(Seq((9000001L, null.asInstanceOf[String], "en", "src0", 0L)
        ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // text family: null text must not throw; the null doc never surfaces
    Seq(
      TextAnalysis.winnowFingerprints(docs),
      Dedup.winnowOverlapPairs(docs, minShared = 1),
      Dedup.simHashNearDupPairs(docs),
      Dedup.minHashNearDupPairs(docs),
      Dedup.ngramJaccardPairs(docs)).foreach { q =>
      val ids = q.collect().flatMap(r =>
        q.columns.filter(c => c == "doc_id" || c.startsWith("doc_"))
          .filter(c => r.schema.fieldNames.contains(c))
          .map(c => r.getAs[Any](c)).collect { case l: Long => l })
      assert(!ids.contains(9000001L), "null-text doc surfaced as a result")
    }
    val emb = Tables.embeddings(spark, sf0).limit(20)
      .unionByName(Seq((9000002L, null.asInstanceOf[Array[Float]], 0L)
        ).toDF("vec_id", "embedding", "label"))
    Seq(
      Similarity.bruteForceTopK(emb, nQueries = 3, k = 3),
      Similarity.nearDupPairsLsh(emb)).foreach { q =>
      val rows = q.collect()
      assert(rows.forall { r =>
        !r.schema.fieldNames.flatMap(c => r.getAs[Any](c) match {
          case l: Long => Some(l); case _ => None
        }).contains(9000002L)
      }, "null-embedding vector surfaced as a neighbor")
    }
  }

  // config/metadata queries whose output is derived from CONFIGURATION,
  // not data — their row count is the property/policy surface itself and
  // is the same on any input; tokenizer_compression's curve is likewise
  // structural (steps+1 per-step global aggregates, zeros when empty)
  // stats_profile is structural the same way: one row per PROFILED
  // COLUMN (zero counts, null min/max on empty input) — the column
  // list, not the data, fixes the row count
  // round 12: three audits whose row count is a CONSTANT table, not
  // data — stats_benford's 9 law digits (zero mass IS the signal),
  // order_pareto's ParetoNs head sizes, sim_recall_report's method
  // list; all emit zero/NULL measures on empty input
  private val configDerived =
    Set("config_parse", "retry_reconnect", "schema_prime",
      "tokenizer_compression", "stats_profile",
      "stats_benford", "order_pareto", "sim_recall_report",
      "corpus_vocab_curve", "embed_quantize_curve",
      // round 13: order_seasonality's 12 calendar-month rows;
      // quality_fk_orphans' 7 structural FK-edge rows
      "order_seasonality", "quality_fk_orphans",
      // round 14: the funnel's 5 structural stage rows (all-zero
      // counts); the PK audit's 8 structural entity rows
      "corpus_funnel_report", "quality_pk_audit",
      // round 15: the null census's 4 audited-column rows (all-zero
      // counters — the census of nothing is still a census); the
      // ts-collision audit's 4 structural grain rows
      "quality_null_census", "quality_ts_collisions",
      // the binary-recall curve's 3 bit-budget rows; the bloom-merge
      // audit's structural zz_global/zz_merged rows (empty masks)
      "embed_recall_vs_bits", "sketch_bloom_merge",
      // round 16: theta A-NOT-B's two structural direction rows
      // (empty sketches under the degenerate full-space theta); the
      // dedup threshold curve's 5-row grid; the IVF probe curve's
      // 3 structural method rows
      "sketch_theta_anotb", "dedup_threshold_curve",
      "sim_recall_probe_curve",
      // the range audit's 3 structural measure rows (null min/max,
      // zero violation counters on empty input)
      "quality_value_ranges")

  test("every stream_* replay answers empty input with the schema it " +
    "answers real input with (names and types)") {
    val streamKeys = SparkEntry.queries.keys.filter(_.startsWith("stream_"))
      .toSeq.sorted
    assert(streamKeys.size == 15, streamKeys)
    def shape(name: String, dir: String): Seq[(String, String)] =
      try SparkEntry.queries(name)(spark, dir).schema.fields.toSeq
        .map(f => f.name -> f.dataType.catalogString)
      finally SparkEntry.endQuery()
    val mismatches = streamKeys.flatMap { name =>
      val (empty, real) = (shape(name, emptyDir), shape(name, sf0))
      if (empty == real) None else Some(s"$name: empty $empty vs $real")
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("every registered query yields an empty (or constant) result on " +
    "empty inputs — no query throws") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, emptyDir).count()
          // aggregates without grouping legitimately return a constant
          // row (counts of zero, null mins) — anything else must be empty
          SparkEntry.endQuery()
          if (n > 1 && !configDerived(name))
            Some(s"$name returned $n rows on empty input")
          else None
        } catch {
          case e: Throwable =>
            SparkEntry.endQuery()
            Some(s"$name threw ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
    }
    assert(failures.isEmpty, s"${failures.size} queries fail on empty " +
      s"input:\n${failures.mkString("\n")}")
  }
}
