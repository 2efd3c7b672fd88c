package graft

import graft.sources.TextSources
import org.apache.spark.sql.functions._

/** Source-format coverage: CSV and JSON-lines quarantine round-trips —
  * row fidelity plus the parser caveats the malformed set is built
  * around. */
class SourcesSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, sf0)

  test("csv quarantine round-trip: exactly the injected lines are " +
    "quarantined, good rows and sums survive bit-exact") {
    val out = TextSources.csvQuarantineRoundTrip(spark, events).collect()
    val bad = out.filter(_.getString(0) == TextSources.Quarantined)
    assert(bad.length == 1 &&
      bad.head.getLong(1) == TextSources.MalformedCsv.length)
    assert(out.filter(_.getString(0) != TextSources.Quarantined)
      .map(_.getLong(1)).sum == events.count())
    // value fidelity: per-type decimal sums equal the pre-write sums
    val direct = events.groupBy(
        graft.operators.ExportOps.nullSentinel(col("event_type")).as("et"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    out.filter(_.getString(0) != TextSources.Quarantined).foreach { r =>
      assert(r.getDouble(2) == direct(r.getString(0)),
        s"value sum drifted through CSV for ${r.getString(0)}")
    }
  }

  test("quoted-CSV round-trip: embedded delimiter, quote and NEWLINE " +
    "survive — no invented rows, char sums exact") {
    import spark.implicits._
    // every RFC 4180 hazard in the text itself, on top of the payload
    // prefix the operator injects
    val docs = Seq(
      (1L, "plain text", "a"),
      (2L, "comma, inside", "a"),
      (3L, "quote \" and \"quoted,\" both", "b"),
      (4L, "line one\nline two\nline three", "b"))
      .toDF("doc_id", "text", "source")
    val out = TextSources.csvQuotedRoundTrip(spark, docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val local = docs.collect().map(r => (r.getString(2), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(ts => (ts.length.toLong, ts.length.toLong,
        ts.map(_._2.length.toLong + 6).sum)).toMap
    assert(out == local, s"got $out vs $local")
  }

  test("nested-JSON round-trip: JSON-hostile text survives both envelope " +
    "levels — quotes, backslashes, newlines, unicode") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain", "a"),
      (2L, "quote \" backslash \\ slash /", "a"),
      (3L, "newline\nand\ttab", "b"),
      (4L, "unicode: 中文 héllo", "b"))
      .toDF("doc_id", "text", "source")
    val out = TextSources.jsonNestedRoundTrip(spark, docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val local = docs.collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1).length.toLong))
      .groupBy(_._1).view
      .mapValues(ts => (ts.length.toLong, ts.map(_._2).sum, ts.map(_._3).sum))
      .toMap
    assert(out == local, s"got $out vs $local")
  }

  test("jsonl quarantine round-trip: same contract through the JSON parser") {
    val out = TextSources.jsonlQuarantineRoundTrip(spark, events).collect()
    val bad = out.filter(_.getString(0) == TextSources.Quarantined)
    assert(bad.length == 1 &&
      bad.head.getLong(1) == TextSources.MalformedJsonl.length)
    assert(out.filter(_.getString(0) != TextSources.Quarantined)
      .map(_.getLong(1)).sum == events.count())
  }

  test("parquet schema evolution: mergeSchema unifies generations, gen-1 " +
    "rows back-fill score with NULL, nothing lost or invented") {
    import graft.sources.ParquetEvolution
    val out = ParquetEvolution.evolveRoundTrip(spark, events).collect()
    assert(out.map(_.schema.fieldNames.toSeq).head ==
      Seq("event_type", "gen", "n_rows", "value_sum", "score_sum",
        "n_score_null"))
    val byGen = out.groupBy(_.getLong(1))
    // parity split accounts for every source row
    assert(byGen.values.flatten.map(_.getLong(2)).sum == events.count())
    // generation 1 predates score: every row NULL there, none in gen 2
    byGen(1L).foreach { r =>
      assert(r.isNullAt(4) && r.getLong(5) == r.getLong(2)) }
    byGen(2L).foreach { r =>
      assert(!r.isNullAt(4) && r.getLong(5) == 0L)
      // the derived column survives the round trip exactly: 2× value
      assert(math.abs(r.getDouble(4) - 2 * r.getDouble(3)) < 1e-9)
    }
  }

  test("parquet type widening: one read promotes int32 and decimal(12,2) " +
    "generations to the widened schema, sums exact across all three") {
    import graft.sources.ParquetEvolution
    val out = ParquetEvolution.widenRoundTrip(spark, events).collect()
    assert(out.map(_.schema.fieldNames.toSeq).head ==
      Seq("event_type", "gen", "n_rows", "amount_sum", "value_sum"))
    val byGen = out.groupBy(_.getLong(1))
    assert(byGen.keySet == Set(1L, 2L, 3L), "a generation was lost")
    // the mod-3 split accounts for every source row
    assert(byGen.values.flatten.map(_.getLong(2)).sum == events.count())
    // promotion fidelity: each generation's sums equal the direct
    // replay from the original relation — a truncated int32→int64 or a
    // mangled decimal rescale breaks one of these
    val direct = events
      .groupBy(graft.operators.ExportOps.nullSentinel(col("event_type"))
        .as("et"), (pmod(col("event_id"), lit(3)) + 1).as("g"))
      .agg(sum(floor(col("value"))).as("a"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    out.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      assert(r.getLong(3) == direct(k)._1, s"amount_sum drifted for $k")
      assert(r.getDouble(4) == direct(k)._2, s"value_sum drifted for $k")
    }
  }

  test("fixed-width source: slices round-trip exactly in integer " +
    "cents, all three malformed shapes quarantine, nothing lost") {
    import graft.sources.TextSources
    val out = TextSources.fixedWidthQuarantineRoundTrip(spark, events)
      .collect()
    val q = out.filter(_.getString(0) == TextSources.Quarantined)
    assert(q.length == 1 && q.head.getLong(1) == 3,
      "short line + bad id + bad cents must all quarantine")
    val good = out.filter(_.getString(0) != TextSources.Quarantined)
    assert(good.map(_.getLong(1)).sum == events.count())
    // cents fidelity against the original relation, per type
    val direct = events.groupBy(
        graft.operators.ExportOps.nullSentinel(col("event_type")).as("et"))
      .agg(sum((col("value").cast("decimal(12,2)") * 100).cast("long")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    good.foreach(r => assert(r.getLong(2) == direct(r.getString(0)),
      s"cents drifted for ${r.getString(0)}"))
  }

  test("fixed-width source: out-of-layout rows fail the WRITE loudly " +
    "(truncating lpad/rpad would silently desync the summary)") {
    import graft.sources.TextSources
    import spark.implicits._
    def evs(id: java.lang.Long, et: String, v: java.lang.Double) =
      Seq((id, et, v)).toDF("event_id", "event_type", "value")
    // each shape would previously corrupt silently: negative cents
    // render '00000000-123' (quarantined on read), an 11-char type
    // rpad-truncates, a NULL type NULLs the concat
    for (bad <- Seq(evs(1L, "click", -1.23),
        evs(1L, "elevenchars", 1.0),
        evs(1L, null, 1.0),
        evs(10000000000L, "click", 1.0))) {
      val e = intercept[Exception] {
        TextSources.fixedWidthQuarantineRoundTrip(spark, bad).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("fixed-width layout violation")),
        s"expected a named layout violation, got: ${msgs(e).take(3)}")
    }
  }

  test("parquet column drop: gen 2 stops emitting props, the unified " +
    "read forward-fills NULL exactly there, gen 1 keeps its values") {
    import graft.sources.ParquetEvolution
    val out = ParquetEvolution.dropRoundTrip(spark, events).collect()
    val byGen = out.groupBy(_.getLong(1))
    assert(byGen.keySet == Set(1L, 2L))
    assert(byGen.values.flatten.map(_.getLong(2)).sum == events.count())
    // gen 1: the column survives — present + null tiles the rows, and
    // nulls are only the data's own (the fixture has none)
    byGen(1L).foreach { r =>
      assert(r.getLong(4) + r.getLong(5) == r.getLong(2))
      assert(r.getLong(4) == 0L, "gen 1 props must survive the round trip")
    }
    // gen 2: the column genuinely ended — all NULL, none present
    byGen(2L).foreach { r =>
      assert(r.getLong(4) == r.getLong(2) && r.getLong(5) == 0L,
        "dropped-column rows must read as NULL, never resurrect")
    }
  }

  test("schema-drift ledger: the four-generation lineage reports " +
    "exactly its add/drop/retype edges from the parquet footers, with " +
    "the target generation's row count") {
    import graft.sources.ParquetEvolution
    val out = ParquetEvolution.driftLedger(spark, events).collect()
    val edges = out.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getString(3), r.getString(4), r.getString(5))).toSet
    assert(edges == Set(
      (1L, 2L, "score", "added", null, "DOUBLE"),
      (2L, 3L, "amount", "retyped", "INT", "BIGINT"),
      (2L, 3L, "props", "dropped", "STRING", null),
      (3L, 4L, "value", "retyped", "DECIMAL(12,2)", "DECIMAL(18,2)")),
      s"ledger edges drifted: ${edges.mkString("; ")}")
    // the counts come from the data, via the mod-4 split rule
    val want = events.groupBy(pmod(col("event_id"), lit(4)).as("g"))
      .count().collect().map(r => r.getLong(0) + 1 -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(6) == want(r.getLong(1)),
        s"n_rows_to_gen drifted for gen ${r.getLong(1)}")
    }
  }

  test("CSV under-arity rows pad their fields AND carry the corrupt " +
    "record (Spark 4 flags arity mismatches; the malformed set still " +
    "uses numeric failures so the contract survives parsers that don't)") {
    import org.apache.spark.sql.types._
    val dir = Scratch.dir("graft_arity_")
    java.nio.file.Files.write(dir.resolve("r.csv"),
      "1,2\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("_corrupt", StringType)))
    val rows = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir.toString).cache()
    try {
      val r = rows.collect()
      assert(r.length == 1)
      // Spark 4.1: fields pad with nulls AND the raw line lands in the
      // corrupt column — under-arity counts as quarantined here
      assert(r.head.getAs[String]("_corrupt") == "1,2")
      assert(r.head.getAs[Long]("event_id") == 1L &&
        r.head.isNullAt(schema.fieldIndex("value")))
    } finally rows.unpersist()
  }
  test("JSONL sink round-trip: doubles survive the text hop — summary " +
    "equals the direct aggregate") {
    import graft.sources.TextSources
    val ev = Tables.events(spark, sf0)
    val got = TextSources.jsonlSinkRoundTrip(spark, ev).collect()
      .map(_.toSeq)
    val want = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("value_sum"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("ORC nested round-trip: the struct hop loses nothing — summary " +
    "equals the direct aggregate") {
    import graft.sources.ColumnarSources
    val ev = Tables.events(spark, sf0)
    val got = ColumnarSources.orcRoundTrip(spark, ev).collect().map(_.toSeq)
    val want = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("value_sum"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("hive-partitioned pruned read: the filter prunes directories — " +
    "only the kept partitions are ever listed") {
    import graft.sources.ParquetEvolution
    import org.apache.spark.sql.execution.FileSourceScanExec
    val ev = Tables.events(spark, sf0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val keep = ParquetEvolution.HivePruneKeep
    val got = try {
      val out = ParquetEvolution.hivePartitionedPrunedRead(spark, ev)
      // plan-level: the isin filter must be a PARTITION filter, and
      // executing this plan instance must list exactly |keep| of the 5
      // event_type directories — pruning, not a post-scan filter
      val exec = out.queryExecution.executedPlan
      val scan = exec.collect { case s: FileSourceScanExec => s }.head
      val pf = scan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("event_type"),
        s"filter not recognized as a partition filter: $pf")
      assert(exec.executeCollect().length == keep.length)
      assert(scan.metrics("numPartitions").value == keep.length.toLong,
        s"scan listed ${scan.metrics("numPartitions").value} partitions " +
          s"for a ${keep.length}-partition predicate")
      out.collect().map(_.toSeq)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // value-level: identical to the direct aggregate on the original
    val want = ev.filter(col("event_type").isin(keep: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("value_sum"))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("csvSinkRoundTrip: the landed summary equals the source's, cents " +
    "exact across the text hop") {
    val events = Tables.events(spark, sf0)
    val got = TextSources.csvSinkRoundTrip(spark, events)
      .collect().map(_.toSeq)
    val want = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum((col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))
          * 100).cast("long")).as("cents_sum"))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("csvMultiDelimRoundTrip: `||` delimiter survives commas and " +
    "single pipes INSIDE field values — the whole point of the dialect") {
    import spark.implicits._
    val events = Seq(
      (1L, 10L, "a,b", 1.25), (2L, 11L, "a,b", 2.00),
      (3L, 12L, "p|q", 3.50), (4L, 12L, "plain", 0.75))
      .toDF("event_id", "user_id", "event_type", "value")
    val got = TextSources.csvMultiDelimRoundTrip(spark, events)
      .collect().map(_.toSeq)
    assert(got.toSeq == Seq(
      Seq("a,b", 2L, 2L, 325L),
      Seq("plain", 1L, 1L, 75L),
      Seq("p|q", 1L, 1L, 350L)), got.mkString(";"))
  }

  test("csvNullLiteralRoundTrip: the NA sentinel survives the hop — " +
    "null lane counted, sum excludes the nulled cents") {
    import spark.implicits._
    val events = Seq(
      (1L, 7L, "click", 1.25),   // user 7: the null lane
      (2L, 14L, "click", 2.00),  // user 14: also % 7 == 0
      (3L, 3L, "click", 3.50),
      (4L, 5L, "buy", 0.75))
      .toDF("event_id", "user_id", "event_type", "value")
    val got = TextSources.csvNullLiteralRoundTrip(spark, events)
      .collect().map(_.toSeq)
    assert(got.toSeq == Seq(
      Seq("buy", 1L, 0L, 75L),
      Seq("click", 3L, 2L, 350L)), got.mkString(";"))
  }

  test("binaryFilesRead: one blob per doc, bytes = text + newline, md5 " +
    "re-derived from raw bytes; empty corpus yields the empty table") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0).limit(25)
    val out = TextSources.binaryFilesRead(spark, docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val want = docs.select(col("doc_id"),
        (length(col("text")) + 1).as("nb"),
        md5(concat(col("text"), lit("\n"))).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out == want)
    val empty = TextSources.binaryFilesRead(spark, docs.limit(0))
    assert(empty.count() == 0L)
  }
}
