package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Text SOURCE formats — CSV and JSON-lines ingestion with
  * malformed-row quarantine, the read-side counterpart of the sink
  * family: a 100 TB lake ingests vendor drops and log shippers in
  * exactly these two formats, and the first operator they hit must (a)
  * parse with an EXPLICIT schema — never infer over a corpus — and (b)
  * route unparseable lines to quarantine instead of failing the job or,
  * worse, silently dropping them. Both round-trips here write a
  * deterministic file set (the events relation plus a known set of
  * injected malformed lines), read it back through Spark's own
  * PERMISSIVE parser with `columnNameOfCorruptRecord`, and summarize —
  * so the DuckDB oracle (which replays the summary from the ORIGINAL
  * relation plus the injection constants) proves the parser neither
  * lost nor invented rows. Same contract shape as `sink_compact`'s
  * row-fidelity oracle, pointed at the read path.
  *
  * Reference scope: the reference conduit emits JSON lines
  * (PartitionedJsonDecoder.java:109-129 builds the JSON object per
  * row); these operators cover the opposite direction, which any
  * replacement engine needs on day one.
  */
object TextSources {

  /** Injected malformed lines. Every CSV line fails a NUMERIC field
    * parse rather than relying on arity alone: Spark 4 does flag
    * under-arity rows as corrupt (SourcesSpec pins it), but older CSV
    * parsers pad them silently — a type failure quarantines under
    * either behavior, so the contract is parser-version-proof. The
    * JSONL set covers a bad field type, broken syntax, and a
    * non-object line. */
  val MalformedCsv: Seq[String] =
    Seq("x,y,z,1.5", "1,2,ok,notanumber", "garbage")
  val MalformedJsonl: Seq[String] =
    Seq("{\"event_id\": \"notanumber\", \"user_id\": 1}",
      "{not json at all", "42")

  /** The quarantine marker row key. */
  val Quarantined = "__quarantined__"

  /** Per-JVM scratch root (mirrors SinkOps): overwritten per call,
    * removed on JVM exit. */
  private lazy val scratchRoot: java.nio.file.Path =
    graft.Scratch.dir("graft_sources_")

  private val readSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("_corrupt", StringType)))

  /** Shared summary: per sentinel-normalized event_type — row count,
    * exact-decimal value sum (cast to double at the end, the engine's
    * money doctrine) and the id span; plus ONE quarantine row counting
    * the corrupt records. A parser that silently drops a malformed line
    * (or mis-parses a good one) changes a count or a sum and fails the
    * hash compare. */
  private[graft] def summarize(back: DataFrame): DataFrame = {
    // ONE aggregation pass over good and quarantined rows together:
    // the group key routes corrupt records to the marker group (also
    // sidesteps Spark's corrupt-column-only query restriction, which a
    // separate filter(_corrupt.isNotNull).count() branch would hit)
    val isBad = col("_corrupt").isNotNull
    back
      .groupBy(when(isBad, lit(Quarantined))
        .otherwise(graft.operators.ExportOps.nullSentinel(col("event_type")))
        .as("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(!isBad, col("value")).cast(DecimalType(12, 2)))
          .cast("double").as("value_sum"),
        min(when(!isBad, col("event_id"))).as("first_id"),
        max(when(!isBad, col("event_id"))).as("last_id"))
      .orderBy(col("event_type"))
  }

  private def writeAndRead(spark: SparkSession, events: DataFrame,
                           dir: String, fmt: String,
                           malformed: Seq[String]): DataFrame = {
    // per-CALL unique dir: concurrent callers (parallel test suites,
    // two sessions in one JVM) must never interleave writes into one
    // directory — the bucketed-table-name lesson applied here from the
    // start. The per-JVM root still bounds and cleans the footprint.
    val out = s"$scratchRoot/$dir-${java.util.UUID.randomUUID()}"
    events.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .write.mode("overwrite").format(fmt).save(out)
    Files.write(Paths.get(out, s"zz_malformed.$fmt"),
      (malformed.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val parsed = spark.read.schema(readSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .format(fmt).load(out)
    // SEAL the quarantine verdict at ingest: Spark's lazy parser prunes
    // columns per consuming query, and an unparsed column's type error
    // goes UNDETECTED — a downstream query touching only the group key
    // would see fewer corrupt rows than one reading every column
    // (_corrupt is populated per parse, not per file). Materializing the
    // full-width parse once makes the verdict a property of the DATA,
    // which is what a landing gate must be — and parse-once is the
    // production ingest shape anyway.
    parsed.localCheckpoint(true)
  }

  /** CSV source with quarantine: write → inject malformed lines →
    * PERMISSIVE re-read with explicit schema → fidelity summary. */
  def csvQuarantineRoundTrip(spark: SparkSession,
                             events: DataFrame): DataFrame =
    summarize(writeAndRead(spark, events, "csv_src", "csv", MalformedCsv))

  /** HEADER-MAPPED CSV source (round 13) — the ingestion-robustness
    * pin the positional legs deliberately lack: CSV COLUMN ORDER IS
    * NOT A CONTRACT, the header is. The wire lands with a PERMUTED
    * column order (value, event_type, user_id, event_id — a partner
    * re-exporting "the same" feed with reordered columns is the
    * classic silent-corruption incident); a positional schema read
    * would parse values as ids without erroring. The robust recipe
    * pinned here: read header-first (every column as string), resolve
    * columns BY NAME, then TRY_CAST into the canonical types —
    * casting failures surface as nulls in typed columns, never as
    * silently transposed data. Summary is the shared fidelity shape
    * minus the quarantine row (no malformed injection — the POINT is
    * the permutation). */
  /** QUOTED-CSV round trip (round 13) — RFC 4180's hard cases as an
    * ingestion pin: a field containing the DELIMITER, the QUOTE
    * character, and an EMBEDDED NEWLINE must survive write → read
    * byte-for-byte. The wire payload is the document text prefixed
    * with `a,"b"` + newline — every hazard in one field, derived from
    * the data so the oracle can replay lengths analytically. Written
    * and read with escape='"' (RFC doubled quotes, NOT Spark's
    * backslash default — vendor CSV is RFC) and read with
    * multiLine=true; a parser that splits on the embedded newline
    * INVENTS rows and the per-source counts break, one that mangles
    * quotes shifts the exact char sums. Scale note, documented
    * deliberately: multiLine CSV is NOT splittable — one task per
    * file — so a 100 TB quoted feed must land pre-chunked (many
    * files), and the parse is followed by a repartition; that caveat
    * is the operator's real payload.
    *
    * Output: (source, n_rows, n_docs, payload_chars), ordered. */
  def csvQuotedRoundTrip(spark: SparkSession, docs: DataFrame): DataFrame = {
    val out = s"$scratchRoot/csv_quoted-${java.util.UUID.randomUUID()}"
    docs.select(col("doc_id"), col("source"),
        concat(lit("a,\"b\"\n"), col("text")).as("payload"))
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(out)
    spark.read
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(expr("try_cast(doc_id AS BIGINT)")).as("n_docs"),
        sum(length(col("payload")).cast("long")).as("payload_chars"))
      .orderBy(col("source"))
  }

  def csvHeaderMapRoundTrip(spark: SparkSession,
                            events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/csv_hdr-${java.util.UUID.randomUUID()}"
    events.select(col("value"), col("event_type"), col("user_id"),
        col("event_id"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").csv(out)
    // by-NAME resolution + typed casts — the column order on disk is
    // irrelevant from this line on
    val typed = back.select(
      expr("try_cast(event_id AS BIGINT)").as("event_id"),
      col("event_type"),
      expr("try_cast(value AS DOUBLE)").as("value"))
    typed
      .groupBy(graft.operators.ExportOps.nullSentinel(col("event_type"))
        .as("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("value_sum"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .orderBy(col("event_type"))
  }

  /** JSON-lines source with quarantine — same contract through Spark's
    * JSON parser (the reference's own wire format, read back). */
  def jsonlQuarantineRoundTrip(spark: SparkSession,
                               events: DataFrame): DataFrame =
    summarize(
      writeAndRead(spark, events, "jsonl_src", "json", MalformedJsonl))

  /** NESTED-JSON source (round 13) — the wire shape every modern API
    * feed actually has: the flat legs (CSV/JSONL/fixed-width) pin
    * parsing, THIS pins STRUCTURE — a two-level envelope
    * {"meta": {"source", "chars"}, "payload": {"doc_id", "text"}}
    * synthesized from the data, read back with an EXPLICIT nested
    * schema (never inferred over a corpus) and flattened by dotted
    * path. The summary proves both levels: doc counts and ids from
    * payload.*, char sums from meta.* — a parser that flattens to the
    * wrong level or null-fills a nested branch breaks one of them.
    * to_json/from_json round-trips entirely in the engine (narrow,
    * zero shuffle before the bounded rollup); the file hop goes
    * through the same scratch root as the flat legs.
    *
    * Output: (source, n_docs, id_sum, chars_sum), ordered. */
  def jsonNestedRoundTrip(spark: SparkSession, docs: DataFrame): DataFrame = {
    val out = s"$scratchRoot/json_nested-${java.util.UUID.randomUUID()}"
    docs.select(to_json(struct(
        struct(col("source"), length(col("text")).cast("long").as("chars"))
          .as("meta"),
        struct(col("doc_id"), col("text")).as("payload"))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("meta", StructType(Seq(
        StructField("source", StringType), StructField("chars", LongType)))),
      StructField("payload", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))))
    spark.read.schema(schema).json(out)
      .select(col("meta.source").as("source"),
        col("payload.doc_id").as("doc_id"),
        col("meta.chars").as("chars"),
        col("payload.text").as("text"))
      // the nested chars field must agree with the re-decoded text —
      // a branch-level corruption shows up as a count, not silently
      .filter(col("chars") === length(col("text")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("chars")).as("chars_sum"))
      .orderBy(col("source"))
  }

  /** Injected malformed fixed-width lines: short line, non-numeric id
    * field, non-numeric cents field. */
  val MalformedFixed: Seq[String] =
    Seq("short", "ABCDEFGHIJclick     000000001000",
      "0000000001click     notanumber__")

  /** FIXED-WIDTH source with quarantine (round 11) — the THIRD legacy
    * wire format next to CSV/JSONL: mainframe and payments feeds still
    * land as column-positional text, and a replacement engine ingests
    * them by SLICING, not splitting. Layout (32 chars):
    * event_id lpad-10-zeros | event_type rpad-10-spaces | cents
    * lpad-12-zeros — money travels as zero-padded integer CENTS, the
    * classic COBOL convention, which also makes the round-trip exact
    * with zero float formatting (the reason this layout was chosen
    * over printf'ing doubles: the engines' float formatters disagree;
    * integer text never does). Parse = substring slices + TRY_CAST
    * validation; a short line or a non-numeric field quarantines
    * under the same contract as the CSV/JSONL legs; the summary is
    * the shared fidelity shape. */
  def fixedWidthQuarantineRoundTrip(spark: SparkSession,
                                    events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/fixed_src-${java.util.UUID.randomUUID()}"
    // WRITE-SIDE layout gate: lpad/rpad TRUNCATE over-width values, a
    // negative cents value would render as '00000000-123' (quarantined
    // on read — a silent desync from any oracle summing the original
    // relation), and a NULL event_type would NULL the concat and crash
    // the text writer with an unhelpful message. Out-of-layout rows must
    // fail LOUDLY with the field named — the fixed layout is a CONTRACT,
    // not a best-effort format (same assert_true discipline as
    // connPoolState's cardinality gate; in-plan, so the guard rides the
    // write job instead of forcing a second pass).
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    def gate(c: Column, ok: Column, what: String): Column =
      assert_true(ok, concat(lit(s"fixed-width layout violation ($what): "),
        coalesce(c.cast("string"), lit("NULL"))))
    events.select(col("event_id"), col("event_type"), cents.as("cents"))
      .filter(gate(col("event_id"), col("event_id").isNotNull &&
          col("event_id").between(0L, 9999999999L),
          "event_id must be 0..10^10-1").isNull &&
        gate(col("event_type"), col("event_type").isNotNull &&
          length(col("event_type")) <= 10,
          "event_type must be non-null, <= 10 chars").isNull &&
        gate(col("cents"), col("cents").isNotNull &&
          col("cents").between(0L, 999999999999L),
          "cents must be 0..10^12-1").isNull)
      .select(concat(
        lpad(col("event_id").cast("string"), 10, "0"),
        rpad(col("event_type"), 10, " "),
        lpad(col("cents").cast("string"), 12, "0")).as("value"))
      .write.mode("overwrite").format("text").save(out)
    Files.write(Paths.get(out, "zz_malformed.txt"),
      (MalformedFixed.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val raw = spark.read.format("text").load(out)
    val parsed = raw.select(
      expr("try_cast(substring(value, 1, 10) AS BIGINT)").as("event_id"),
      trim(substring(col("value"), 11, 10)).as("event_type"),
      expr("try_cast(substring(value, 21, 12) AS BIGINT)").as("cents"),
      length(col("value")).as("len"))
    val isBad = col("len") =!= 32 || col("event_id").isNull ||
      col("cents").isNull
    parsed
      .groupBy(when(isBad, lit(Quarantined))
        .otherwise(graft.operators.ExportOps.nullSentinel(col("event_type")))
        .as("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(!isBad, col("cents"))).as("cents_sum"),
        min(when(!isBad, col("event_id"))).as("first_id"),
        max(when(!isBad, col("event_id"))).as("last_id"))
      .orderBy(col("event_type"))
  }

  /** JSONL SINK ROUND-TRIP (round 14) — the WRITE side of the wire
    * format the reference conduit exists to move (its decoder consumes
    * partitioned JSON; `source_jsonl_quarantine` covers the read):
    * events serialize through to_json into line-delimited text, read
    * back through the JSON parser under the ORIGINAL schema, and
    * summarize with the shared fidelity reduction. Doubles survive the
    * hop because to_json emits the shortest round-trip decimal form
    * and the parser restores the exact IEEE value — pinned by the
    * exact-decimal sum equaling the original relation's in the oracle.
    *
    * Output: (event_type, n_rows, n_users, value_sum, first_id,
    * last_id), ordered by type. */
  def jsonlSinkRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/jsonl_sink-${java.util.UUID.randomUUID()}"
    val slim = events.select(col("event_id"), col("event_type"),
      col("user_id"), col("value"))
    slim.select(to_json(struct(col("event_id"), col("event_type"),
        col("user_id"), col("value"))).as("value"))
      .write.mode("overwrite").text(out)
    spark.read.schema(slim.schema).json(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("value_sum"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .orderBy(col("event_type"))
  }

  /** CSV SINK ROUND-TRIP (round 15) — the remaining columnar-text leg
    * next to [[jsonlSinkRoundTrip]]: the analytics summary lands as
    * headered CSV (the interchange format every downstream spreadsheet
    * and loader still speaks) and is read back with an EXPLICIT schema
    * (inference on a re-read is a silent-type-drift trap — a BIGINT
    * column of small values infers INT and the hash compare catches
    * it). Money crosses as exact cents (a CSV double would re-parse
    * with last-ulp drift); the oracle proves write→parse→read loses
    * nothing. CSV is splittable when unquoted-single-line, which this
    * summary is by construction.
    *
    * Output: (event_type, n_rows, n_users, cents_sum), ordered. */
  def csvSinkRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/csv_sink-${java.util.UUID.randomUUID()}"
    val summary = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum((col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
          .as("cents_sum"))
    summary.write.mode("overwrite").option("header", "true").csv(out)
    spark.read.schema(summary.schema).option("header", "true").csv(out)
      .orderBy(col("event_type"))
  }

  /** GZIP CSV ROUND-TRIP (round 15) — [[csvSinkRoundTrip]] through a
    * compression codec: at 100 TB the text interchange leg is always
    * compressed, and gzip is the non-splittable worst case worth
    * proving (one task per .gz file on read — the write sizes files
    * accordingly; bzip2/zstd split, gzip does not — documented here
    * rather than discovered in production). Same explicit-schema
    * read-back and exact-cents discipline; the oracle proves the
    * codec hop is lossless.
    *
    * Output: (event_type, n_rows, n_users, cents_sum), ordered. */
  def csvGzipRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/csv_gzip-${java.util.UUID.randomUUID()}"
    val summary = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum((col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
          .as("cents_sum"))
    summary.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(out)
    spark.read.schema(summary.schema).option("header", "true").csv(out)
      .orderBy(col("event_type"))
  }

  /** NULL-SENTINEL CSV ROUND-TRIP (round 16) — the lossy hop every
    * legacy feed hides: CSV has no native NULL, so pipelines agree on
    * a sentinel token (here `NA` — the R/statistics convention) and
    * both ends must honor it. The fixture carves a REAL null lane
    * (value nulled for user_id % 7 = 0 — an oracle-expressible rule)
    * so the sentinel is exercised in data, not just config: a writer
    * that emits empty-string instead of NA, or a reader that keeps NA
    * as a string, shifts n_na and cents_sum against the parquet-side
    * oracle. Explicit schema on re-read (inference + sentinels is
    * double type drift).
    *
    * Output: (event_type, n_rows, n_na, cents_sum), ordered. */
  def csvNullLiteralRoundTrip(spark: SparkSession,
                              events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/csv_nulllit-${java.util.UUID.randomUUID()}"
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val masked = events.select(col("event_type"), col("user_id"),
      when(col("user_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(cents).as("cents"))
    masked.write.mode("overwrite").option("header", "true")
      .option("nullValue", "NA").csv(out)
    spark.read.schema(masked.schema).option("header", "true")
      .option("nullValue", "NA").csv(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_na"),
        sum(coalesce(col("cents"), lit(0L))).as("cents_sum"))
      .orderBy(col("event_type"))
  }

  /** MULTI-CHAR-DELIMITER CSV ROUND-TRIP (round 15) — the ingest edge
    * legacy feeds actually ship: a "CSV" whose separator is a
    * multi-character token (here `||` — common in mainframe/ERP
    * extracts precisely because it never appears in the data, chosen
    * INSTEAD of quoting). Spark 3+ reads and writes multi-char `sep`
    * natively; this proves the hop lossless under an explicit schema
    * (inference over an exotic delimiter is double type drift). The
    * summary payload includes the event_type STRING column so the
    * delimiter actually borders text fields, not just numbers.
    *
    * Output: (event_type, n_rows, n_users, cents_sum), ordered. */
  def csvMultiDelimRoundTrip(spark: SparkSession,
                             events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/csv_mdelim-${java.util.UUID.randomUUID()}"
    val summary = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum((col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
          .as("cents_sum"))
    summary.write.mode("overwrite").option("header", "true")
      .option("sep", "||").csv(out)
    spark.read.schema(summary.schema).option("header", "true")
      .option("sep", "||").csv(out)
      .orderBy(col("event_type"))
  }

  /** BINARY-FILE SOURCE (round 15) — Spark's `binaryFile` format as
    * the opaque-blob ingest leg of the multimodal story: documents
    * land as one raw .txt blob each (the shape scraped corpora and
    * image/audio dumps arrive in — a directory of files, not a
    * table), are read back as (path, content: binary) rows, and the
    * re-derived (doc_id from the file name, md5 of the bytes, byte
    * length) must match the source table — proving the blob column
    * plumbing end to end. Caveat documented: binaryFile is
    * NON-splittable per file (one task per blob — right for media
    * blobs, wrong for a 100 GB tar: unpack first). The write is one
    * partitionBy(doc_id) text pass, not a driver loop — and it is
    * BOUNDED to the fixed doc_id < `blobCap` slice: in production the
    * blob directory IS the input (nobody materializes a corpus into
    * one-doc files themselves), so the round trip proves the read
    * plumbing on a fixed-size witness rather than writing
    * corpus-many tiny files (5 000 one-line files per bench pass at
    * sf0.1 — a 77 s filesystem exercise that measured nothing).
    *
    * Output: (doc_id, n_bytes, h), ordered. */
  def binaryFilesRead(spark: SparkSession, docs0: DataFrame,
                      blobCap: Long = 500L): DataFrame = {
    val out = s"$scratchRoot/binfiles-${java.util.UUID.randomUUID()}"
    writeBlobDir(spark, docs0, out, blobCap)
    binaryFilesReadFrom(spark, out)
  }

  /** Materialize the one-blob-per-doc directory [[binaryFilesRead]]
    * reads — split out (round 18, VERDICT r17 item 6) so the harness
    * can stage it ONCE per (process, dataset) the way the z-order
    * layout and IVF quantizer are: in production the blob directory IS
    * the input, so re-writing 500 tiny files per invocation measured
    * the filesystem, not the source. */
  def writeBlobDir(spark: SparkSession, docs0: DataFrame, out: String,
                   blobCap: Long = 500L): Unit = {
    val docs = docs0.filter(col("doc_id") < blobCap)
    // one file per doc via partitionBy: doc_id becomes the directory
    // name, the text payload the single line (newline-free by corpus
    // construction; length asserted against n_chars downstream)
    docs.select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .write.mode("overwrite").partitionBy("doc_id").text(out)
  }

  /** The read half of [[binaryFilesRead]]: the `binaryFile` load over a
    * staged blob directory — the operator actually under test. */
  def binaryFilesReadFrom(spark: SparkSession, out: String): DataFrame = {
    // empty corpus: the partitioned text write lands no directories and
    // a binaryFile load over an unmatched glob THROWS — the structural
    // answer is the empty blob table (the empty-write doctrine)
    val sub = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
    if (!sub.exists(_.getName.startsWith("doc_id=")))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_bytes",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType))))
    // load the staged directory itself, not a `doc_id=*` glob: Spark
    // probes a glob path for a streaming `_spark_metadata` dir and logs
    // a FileNotFoundException stack trace per read. doc_id comes from
    // the path below, so the discovered partition column goes unread.
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(out)
      .select(
        regexp_extract(col("path"), "doc_id=(\\d+)", 1).cast("long")
          .as("doc_id"),
        // the text writer appends one trailing newline per line — the
        // byte payload is text + '\n'
        length(col("content")).as("n_bytes"),
        md5(col("content")).as("h"))
      .orderBy(col("doc_id"))
  }
}
