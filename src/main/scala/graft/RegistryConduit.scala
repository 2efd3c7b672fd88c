package graft

import graft.operators._
import graft.config.ExportConfig
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Registry: the reference's faithful export-conduit surface (Group A)
  * plus the sink-side machinery and the text/parquet source round-trips
  * — extracted verbatim from SparkEntry (round 12 split; entries are
  * unchanged, SparkEntry.queries/oracleSql concatenate the families). */
private[graft] trait RegistryConduit { this: SparkEntry.type =>

  // ---- serve dirs (see SessionArtifacts): written once per data dir and
  // read by every invocation of their key

  /** The one-blob-per-doc witness directory read by source_binary_files
    * (round 18, VERDICT r17 item 6): in production the blob directory IS
    * the input, so the measured plan is the binaryFile read, not a
    * 500-tiny-file filesystem exercise per bench pass. */
  private[graft] val binaryBlobDir = serveDir("blob_dir") { (s, d, dir) =>
    graft.sources.TextSources.writeBlobDir(s, Tables.documents(s, d), dir)
  }

  /** The z-ordered orders layout (`layout/`) and its skipping index
    * (`layout_idx/`) read by layout_zorder_read. */
  private[graft] val zorderLayoutDir = serveDir("zorder") { (s, d, dir) =>
    ExportPipeline.zorderWrite(s, Tables.orders(s, d), s"$dir/layout")
  }

  protected def conduitQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Group A: faithful export-conduit surface -----------------------

    // A1 source_scan: full scan of the stream table, schema-on-source.
    "source_scan" -> ((s, d) =>
      Tables.events(s, d).orderBy(col("event_id"))),

    // A2 row_decode: wire payload (JSON string props) → typed fields
    // against an advertised schema, the from_json analogue of the
    // reference's byte[]→Object[] decode.
    "row_decode" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
        .orderBy(col("event_id"))),

    // A3 meta_project: drop leading "internal metadata" fields.
    "meta_project" -> ((s, d) =>
      ExportOps.metaProject(Tables.events(s, d), Seq("event_id", "ts"))
        .orderBy(col("user_id"), col("event_type"), col("value"), col("props"))),

    // A4 schema_prime: bind + validate the advertised schema; emits the
    // resolved (ordinal, name, type, is_partition) binding as data.
    "schema_prime" -> ((s, d) => {
      val df = Tables.events(s, d)
      ExportPipeline.primeSchema(df, Seq("event_type"))
      val rows = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        (i, f.name, f.dataType.simpleString, f.name == "event_type")
      }
      import s.implicits._
      rows.toDF("ordinal", "col_name", "col_type", "is_partition")
        .orderBy(col("ordinal"))
    }),

    // A5 type_dispatch: per-type wire encoding covering ALL 9 VoltType
    // visitor arms (ref hive/PartitionedJsonDecoder.java:163-253):
    // TINYINT/SMALLINT/INTEGER/BIGINT/FLOAT pass through as bare numbers,
    // DECIMAL(38,12) passes through (rendered to its fixed-scale-12 wire
    // text for the cross-engine compare — DuckDB's pandas bridge widens
    // DECIMAL to float64, so the typed compare must happen on the string
    // form), TIMESTAMP → ODBC string, VARCHAR identity, VARBINARY →
    // base64. Every arm also carries null rows (modulus-scattered) to
    // prove null-safety of each encoding.
    "type_dispatch" -> ((s, d) => {
      import org.apache.spark.sql.types._
      def nn(m: Int, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(col("event_id") % m =!= 0, c)
      Tables.events(s, d)
        .select(
          col("event_id"),
          ExportOps.wireEncode(nn(97, (col("event_id") % 100).cast(ByteType)),
            ByteType).as("tinyint_wire"),
          ExportOps.wireEncode(nn(89, (col("event_id") % 30000).cast(ShortType)),
            ShortType).as("smallint_wire"),
          ExportOps.wireEncode(nn(83, (col("event_id") % 1000000000).cast(IntegerType)),
            IntegerType).as("integer_wire"),
          ExportOps.wireEncode(nn(79, col("user_id")),
            LongType).as("bigint_wire"),
          ExportOps.wireEncode(nn(73, col("value")),
            DoubleType).as("float_wire"),
          ExportOps.wireEncode(nn(71,
            concat(col("event_id") % 100000, lit("."),
              lpad((col("event_id") % 999983).cast(StringType), 12, "0"))
              .cast(DecimalType(38, 12))),
            DecimalType(38, 12)).cast(StringType).as("decimal_wire"),
          ExportOps.wireEncode(nn(67, col("ts")),
            TimestampType).as("ts_wire"),
          ExportOps.wireEncode(nn(61, col("props")),
            StringType).as("varchar_wire"),
          ExportOps.wireEncode(nn(59, encode(col("event_type"), "UTF-8")),
            BinaryType).as("binary_wire"))
        .orderBy(col("event_id"))
    }),

    // A6 ts_format
    "ts_format" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), ExportOps.tsFormat(col("ts")).as("ts_odbc"))
        .orderBy(col("event_id"))),

    // A6 configured-zone variant (round 14): the reference formats
    // timestamps in a CONFIGURED zone, not only the process default
    // (hive/HiveExportClient.java:74-77) — render every instant's
    // wall-clock in America/New_York regardless of the UTC session.
    // DST correctness is pinned by the spring-forward unit fixture
    // (ExportOpsSpec); this key oracle-checks the whole relation.
    "ts_format_zone" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          ExportOps.tsFormatInZone(col("ts"), "America/New_York")
            .as("ts_odbc_ny"))
        .orderBy(col("event_id"))),

    // A7 bin_base64
    "bin_base64" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          ExportOps.binBase64(encode(col("text"), "UTF-8")).as("text_b64"))
        .orderBy(col("doc_id"))),

    // A8 null_sentinel: null and blank partition values → sentinel.
    "null_sentinel" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          ExportOps.nullSentinel(nullif(col("event_type"), lit("click")))
            .as("from_null"),
          ExportOps.nullSentinel(
            when(col("event_type") === "error", lit("   "))
              .otherwise(col("event_type"))).as("from_blank"))
        .orderBy(col("event_id"))),

    // A9 partition_route: (payload_json, partition cols) split.
    "partition_route" -> ((s, d) =>
      routedEvents(s, d).orderBy(col("payload_json"))),

    // A10 json_encode: payload → JSON object string, declaration order,
    // nulls kept.
    "json_encode" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          ExportOps.jsonEncode(col("event_id"), col("user_id"),
            nullif(col("event_type"), lit("click")).as("event_type"),
            col("props")).as("payload_json"))
        .orderBy(col("event_id"))),

    // A11 group_by_endpoint: rows grouped by target endpoint.
    "group_by_endpoint" -> ((s, d) =>
      ExportOps.groupByEndpoint(routedEvents(s, d), Seq("event_type"))
        .orderBy(col("event_type"))),

    // A17 config_parse: the reference's full property surface (hive.uri,
    // hive.db, hive.table, hive.partition.columns, timezone) parsed with
    // the intended (fixed) validations. Emits the parsed binding: one row
    // per partition column plus '#'-prefixed rows for the scalar settings.
    "config_parse" -> ((s, d) => {
      val cfg = ExportConfig.fromProperties(Map(
        "hive.uri" -> "thrift://meta:9083",
        "hive.db" -> "analytics",
        "hive.table" -> "alerts",
        "hive.partition.columns" ->
          "alerts:continent|country, events:region|zone"))
      val rows = (for {
        (table, cols) <- cfg.partitionColumns.toSeq.sortBy(_._1)
        (c, i) <- cols.zipWithIndex
      } yield (table, i, c)) ++ Seq(
        ("#db", 0, cfg.db), ("#table", 0, cfg.table),
        ("#timezone", 0, cfg.timezone), ("#uri", 0, cfg.metastoreUri))
      import s.implicits._
      rows.toDF("table_name", "ordinal", "part_col")
        .orderBy(col("table_name"), col("ordinal"))
    }),

    // ---- Group A: sink-side machinery -----------------------------------

    // CSV source with malformed-row quarantine (round 9): write →
    // inject known-bad lines → PERMISSIVE re-read with explicit schema
    // → fidelity summary; the parser must neither lose nor invent rows.
    "source_csv_quarantine" -> ((s, d) =>
      graft.sources.TextSources.csvQuarantineRoundTrip(s, Tables.events(s, d))),

    // JSON-lines source, same quarantine contract — the reference's own
    // wire format read back through Spark's JSON parser.
    "source_jsonl_quarantine" -> ((s, d) =>
      graft.sources.TextSources.jsonlQuarantineRoundTrip(s, Tables.events(s, d))),

    // Null-sentinel CSV round trip (round 16): the NA token honored on
    // both ends, real null lane carved by an oracle-expressible rule
    // (see csvNullLiteralRoundTrip's scaladoc).
    "source_csv_null_literals" -> ((s, d) =>
      graft.sources.TextSources.csvNullLiteralRoundTrip(s, Tables.events(s, d))),

    // Nested-JSON source (round 13): two-level envelope, explicit
    // nested schema, dotted-path flatten — structure, not just parsing
    // (see jsonNestedRoundTrip's scaladoc).
    "source_json_nested" -> ((s, d) =>
      graft.sources.TextSources.jsonNestedRoundTrip(s, Tables.documents(s, d))),

    // Quoted-CSV round trip (round 13): RFC 4180 hard cases — embedded
    // delimiter/quote/newline in one field, multiLine read (see
    // csvQuotedRoundTrip's scaladoc, incl. the non-splittable caveat).
    "source_csv_quoted" -> ((s, d) =>
      graft.sources.TextSources.csvQuotedRoundTrip(s, Tables.documents(s, d))),

    // Header-mapped CSV (round 13): the wire lands with PERMUTED
    // column order; by-name resolution + try_cast makes order
    // irrelevant (see csvHeaderMapRoundTrip's scaladoc — a positional
    // read would silently transpose fields).
    "source_csv_header_map" -> ((s, d) =>
      graft.sources.TextSources.csvHeaderMapRoundTrip(s, Tables.events(s, d))),

    // STREAMING-ingest parity (round 12): the same JSONL wire +
    // malformed tail replayed as a text file stream through the
    // streaming parser, landed per batch, summarized with the shared
    // fidelity reduction (see ingestParityReplay's scaladoc).
    "stream_ingest_parity" -> ((s, d) => {
      val base = queryDir("stream_ingest")
      graft.streaming.StreamingIngest.ingestParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // Fixed-width source (round 11): the third legacy wire format —
    // slice + try_cast, integer-cents money (no float formatting),
    // same quarantine contract.
    "source_fixed_width" -> ((s, d) =>
      graft.sources.TextSources.fixedWidthQuarantineRoundTrip(
        s, Tables.events(s, d))),

    // Parquet schema-evolution round-trip (round 9): two writer
    // generations (gen 2 adds a column), mergeSchema read-back, NULL
    // back-fill proven by the per-(type, gen) fidelity summary.
    "source_schema_evolve" -> ((s, d) =>
      graft.sources.ParquetEvolution.evolveRoundTrip(s, Tables.events(s, d))),

    // ORC round-trip with a nested struct (round 14): the read side of
    // the conduit's default sink format, nested path included (see
    // orcRoundTrip's scaladoc).
    "source_orc_nested" -> ((s, d) =>
      graft.sources.ColumnarSources.orcRoundTrip(s, Tables.events(s, d))),

    // JSONL sink round-trip (round 14): the WRITE side of the
    // reference's wire format — to_json → text → parse-back fidelity
    // (see jsonlSinkRoundTrip's scaladoc).
    "sink_jsonl_roundtrip" -> ((s, d) =>
      graft.sources.TextSources.jsonlSinkRoundTrip(s, Tables.events(s, d))),

    // CSV sink round-trip (round 15): headered CSV write → explicit-
    // schema read-back, money as exact cents (see csvSinkRoundTrip's
    // scaladoc).
    "sink_csv_roundtrip" -> ((s, d) =>
      graft.sources.TextSources.csvSinkRoundTrip(s, Tables.events(s, d))),

    // Gzip CSV round-trip (round 15): the compressed interchange leg —
    // non-splittable codec documented, losslessness oracle-proved (see
    // csvGzipRoundTrip's scaladoc).
    "sink_csv_gzip" -> ((s, d) =>
      graft.sources.TextSources.csvGzipRoundTrip(s, Tables.events(s, d))),

    // Multi-char-delimiter CSV round-trip (round 15): the `||`
    // mainframe-extract dialect, explicit schema both ways (see
    // csvMultiDelimRoundTrip's scaladoc).
    "source_csv_multichar_delim" -> ((s, d) =>
      graft.sources.TextSources.csvMultiDelimRoundTrip(s, Tables.events(s, d))),

    // Binary-file source (round 15; staged round 18): one blob per doc
    // via the binaryFile format — the opaque-media ingest leg;
    // md5/byte-length re-derived from raw bytes. The witness blob
    // directory is staged once per (process, dataset) — in production
    // the blob directory IS the input — so the measured plan is the
    // binaryFile read (see binaryFilesReadFrom's scaladoc).
    "source_binary_files" -> ((s, d) => {
      graft.sources.TextSources.binaryFilesReadFrom(s, binaryBlobDir(s, d))
    }),

    // Hive-partitioned layout + partition pruning (round 14): the
    // partition column round-trips through the directory name and the
    // filter becomes a PartitionFilter — 2 of 5 directories ever
    // opened, plan-asserted in SourcesSpec (see
    // hivePartitionedPrunedRead's scaladoc).
    "source_hive_partitioned" -> ((s, d) =>
      graft.sources.ParquetEvolution.hivePartitionedPrunedRead(
        s, Tables.events(s, d))),

    // TYPE-WIDENING evolution (round 11): three writer generations of
    // one logical table — INT→BIGINT and DECIMAL(12,2)→(18,2) across
    // generations — read once under the explicit widened schema
    // (SPARK-40876 parquet promotions); per-(type, gen) fidelity
    // summary replayed by the oracle from the original relation.
    "source_schema_widen" -> ((s, d) =>
      graft.sources.ParquetEvolution.widenRoundTrip(s, Tables.events(s, d))),

    // Column-DROP generation (round 11): the third evolution move —
    // gen 2 stops emitting props; mergeSchema forward-fills NULL.
    "source_schema_drop" -> ((s, d) =>
      graft.sources.ParquetEvolution.dropRoundTrip(s, Tables.events(s, d))),

    // Schema-drift monitor (round 14): the add/drop/retype ledger over
    // a four-generation lineage, edges read from the parquet FOOTERS,
    // counts from the data (see driftLedger's scaladoc).
    "quality_schema_drift" -> ((s, d) =>
      graft.sources.ParquetEvolution.driftLedger(s, Tables.events(s, d))),

    // A12 batch_barrier: micro-batch block assembly + per-block summary.
    "batch_barrier" -> ((s, d) =>
      SinkOps.batchBarrier(Tables.events(s, d))),

    // A13 parallel_sink_write: hashed writer-lane assignment (md5-portable).
    "parallel_sink_write" -> ((s, d) =>
      SinkOps.writerAssignment(routedEvents(s, d), "event_type")),

    // A14 sink_txn_batch: real partitioned committed write + read-back.
    "sink_txn_batch" -> ((s, d) =>
      SinkOps.txnBatchRoundTrip(s, Tables.events(s, d))),

    // EXPORT-CONDUIT parity (round 12): the reference's own streaming
    // lifecycle replayed as a multi-micro-batch file stream through
    // the production exportStream path, landed batches summarized
    // under sink_txn_batch's oracle (see exportParityReplay's
    // scaladoc).
    "stream_export_parity" -> ((s, d) => {
      val base = queryDir("stream_export")
      graft.streaming.StreamingExport.exportParityReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3)
    }),

    // exactly-once under forced redelivery (round 15): batch 1's
    // foreachBatch body re-runs from its original input file after the
    // stream drains — the reference's at-least-once duplicate block,
    // absorbed by idempotent per-batch_id overwrite; the no-failure
    // oracle is shared verbatim (see exportExactlyOnceReplay's
    // scaladoc).
    "stream_export_exactly_once" -> ((s, d) => {
      val base = queryDir("stream_export_eo")
      graft.streaming.StreamingExport.exportExactlyOnceReplay(
        Tables.events(s, d), s"$base/src", s"$base/out", s"$base/ckpt",
        nFiles = 3, replayBatch = 1L)
    }),

    // A14b sink_catalog_orc: the reference's true sink contract — a
    // partitioned ORC METASTORE table (README.md:77 requires ORC) written
    // via saveAsTable/insertInto, read back through the catalog. Same
    // summary as sink_txn_batch ⇒ the oracle proves the ORC catalog
    // round-trip is lossless.
    "sink_catalog_orc" -> ((s, d) =>
      SinkOps.catalogOrcRoundTrip(s, Tables.events(s, d))),

    // Small-file compaction under the row-fidelity oracle (round 8):
    // fragment a partitioned sink on purpose, compact with a clustering
    // sortBy, read back — the oracle proves the maintenance pass
    // lossless (packing mechanics are PipelineSpec's job). Partition
    // values are sentineled and scratch dirs are per-JVM, see
    // SinkOps.compactRoundTrip.
    "sink_compact" -> ((s, d) =>
      SinkOps.compactRoundTrip(s, Tables.events(s, d))),

    // Delete-vector (merge-on-read) lifecycle (round 15): base +
    // tombstones, anti-join MoR view, compaction — lossless end state
    // (see deleteVectorRoundTrip's scaladoc).
    "sink_delete_vectors" -> ((s, d) =>
      SinkOps.deleteVectorRoundTrip(s, Tables.events(s, d))),

    // Partition-layout migration (round 15): flat gen-1 + partitioned
    // gen-2 served as one relation, union BY NAME (see
    // partitionMigrateRoundTrip's scaladoc).
    "sink_partition_migrate" -> ((s, d) =>
      SinkOps.partitionMigrateRoundTrip(s, Tables.events(s, d))),

    // Z-order layout cells (round 9): min/max-normalized bit interleave
    // of (custkey, orderdate) → per-cell skipping index — the
    // multi-dimensional clustering sink_compact's single-column sortBy
    // cannot give. Two aggregates, no global sort.
    "layout_zorder" -> ((s, d) =>
      ExportPipeline.zorderCells(Tables.orders(s, d))),

    // Hilbert-curve layout cells (round 11): the stronger locality
    // sibling (consecutive cells Manhattan-adjacent — Z's worst jump
    // spans half the grid); identical two-pass shape + index contract.
    "layout_hilbert" -> ((s, d) =>
      ExportPipeline.hilbertCells(Tables.orders(s, d))),

    // The READ that layout buys (round 10): write the cell-partitioned
    // layout + its skipping index ONCE per (process, dataset) — the
    // deployed shape, same memo doctrine as sim_ann_ivf_served's
    // quantizer — then serve a custkey-range predicate by probing the
    // ≤ 256-row index and scanning only overlapping cells.
    // PlanInvariantsSpec asserts the partition pruning is real; the
    // oracle proves the pruned read returns EXACTLY the predicate rows.
    "layout_zorder_read" -> ((s, d) => {
      ExportPipeline.zorderPrunedRead(s, s"${zorderLayoutDir(s, d)}/layout",
        1L, 300L)
    }),

    // A15 conn_pool: LRU+TTL endpoint-cache state.
    "conn_pool" -> ((s, d) =>
      SinkOps.connPoolState(Tables.events(s, d), "event_type")),

    // A16 retry_reconnect: the bounded-retry envelope.
    "retry_reconnect" -> ((s, d) => SinkOps.retryPolicy(s)),

    // A18 rate_limited_log: 10 s suppression windows per message key.
    "rate_limited_log" -> ((s, d) =>
      SinkOps.rateLimitedLog(Tables.events(s, d))),
  )

  protected def conduitOracles: Map[String, String] = Map(
    "source_scan" ->
      "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events ORDER BY event_id",

    "row_decode" ->
      "SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events ORDER BY event_id",

    "meta_project" ->
      "SELECT user_id, event_type, value, props FROM events ORDER BY user_id, event_type, value, props",

    "schema_prime" ->
      ("SELECT * FROM (VALUES " +
        "(0,'event_id','bigint',FALSE),(1,'ts','timestamp',FALSE)," +
        "(2,'user_id','bigint',FALSE),(3,'event_type','string',TRUE)," +
        "(4,'value','double',FALSE),(5,'props','string',FALSE)) " +
        "AS t(ordinal, col_name, col_type, is_partition) ORDER BY ordinal"),

    "type_dispatch" ->
      ("SELECT event_id, " +
        "CASE WHEN event_id % 97 <> 0 THEN CAST(event_id % 100 AS TINYINT) END AS tinyint_wire, " +
        "CASE WHEN event_id % 89 <> 0 THEN CAST(event_id % 30000 AS SMALLINT) END AS smallint_wire, " +
        "CASE WHEN event_id % 83 <> 0 THEN CAST(event_id % 1000000000 AS INTEGER) END AS integer_wire, " +
        "CASE WHEN event_id % 79 <> 0 THEN user_id END AS bigint_wire, " +
        "CASE WHEN event_id % 73 <> 0 THEN value END AS float_wire, " +
        "CASE WHEN event_id % 71 <> 0 THEN CAST(CAST(" +
        "(event_id % 100000) || '.' || lpad(CAST(event_id % 999983 AS VARCHAR), 12, '0')" +
        " AS DECIMAL(38,12)) AS VARCHAR) END AS decimal_wire, " +
        s"CASE WHEN event_id % 67 <> 0 THEN strftime(CAST(ts AS TIMESTAMP), $sqlTsFmt) END AS ts_wire, " +
        "CASE WHEN event_id % 61 <> 0 THEN props END AS varchar_wire, " +
        "CASE WHEN event_id % 59 <> 0 THEN to_base64(encode(event_type)) END AS binary_wire " +
        "FROM events ORDER BY event_id"),

    "ts_format" ->
      s"SELECT event_id, strftime(CAST(ts AS TIMESTAMP), $sqlTsFmt) AS ts_odbc FROM events ORDER BY event_id",

    // zone replay, session-zone independent: interpret the naive
    // instant as UTC (inner timezone()) then take New York wall-clock
    // parts (outer) — DuckDB's IANA rules match java.time's
    "ts_format_zone" ->
      ("SELECT event_id, strftime(timezone('America/New_York', " +
        s"timezone('UTC', CAST(ts AS TIMESTAMP))), $sqlTsFmt) AS ts_odbc_ny " +
        "FROM events ORDER BY event_id"),

    "bin_base64" ->
      "SELECT doc_id, to_base64(encode(text)) AS text_b64 FROM documents ORDER BY doc_id",

    "null_sentinel" ->
      (s"SELECT event_id, ${sqlSentinel("nullif(event_type, 'click')")} AS from_null, " +
        s"${sqlSentinel("CASE WHEN event_type = 'error' THEN '   ' ELSE event_type END")} AS from_blank " +
        "FROM events ORDER BY event_id"),

    "partition_route" ->
      (s"SELECT $sqlEventsPayload AS payload_json, ${sqlSentinel("event_type")} AS event_type " +
        "FROM events ORDER BY payload_json"),

    "json_encode" ->
      ("SELECT event_id, to_json(struct_pack(event_id := event_id, user_id := user_id, " +
        "event_type := nullif(event_type, 'click'), props := props))::varchar AS payload_json " +
        "FROM events ORDER BY event_id"),

    "group_by_endpoint" ->
      (s"SELECT event_type, COUNT(*) AS n_rows, MIN(j) AS first_payload, MAX(j) AS last_payload " +
        s"FROM (SELECT ${sqlSentinel("event_type")} AS event_type, $sqlEventsPayload AS j FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),

    "config_parse" ->
      ("SELECT * FROM (VALUES " +
        "('#db',0,'analytics'),('#table',0,'alerts')," +
        "('#timezone',0,'UTC'),('#uri',0,'thrift://meta:9083')," +
        "('ALERTS',0,'CONTINENT'),('ALERTS',1,'COUNTRY')," +
        "('EVENTS',0,'REGION'),('EVENTS',1,'ZONE')) " +
        "AS t(table_name, ordinal, part_col) ORDER BY table_name, ordinal"),

    // source round-trips: the oracle replays the summary from the
    // ORIGINAL relation + the injection constant (3 malformed lines) —
    // a parser that drops or invents a row breaks a count or a sum
    // integer-cents fidelity + the 3 injected quarantine rows
    "source_fixed_width" ->
      (s"SELECT event_type, n_rows, cents_sum, first_id, last_id FROM (" +
        s"SELECT ${sqlSentinel("event_type")} AS event_type, COUNT(*) AS n_rows, " +
        "CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id FROM events GROUP BY 1 " +
        "UNION ALL SELECT '__quarantined__', 3, CAST(NULL AS BIGINT), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)) ORDER BY event_type"),

    // header-mapped CSV replay: no quarantine injection, so the
    // summary is the plain per-type fidelity reduction — a transposed
    // read would desync every column of it
    // Nested-JSON replay: round-trip fidelity = the original relation's
    // summary (both envelope levels agree by construction)
    "source_json_nested" ->
      ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(doc_id) AS BIGINT) AS id_sum, " +
        "CAST(SUM(length(text)) AS BIGINT) AS chars_sum " +
        "FROM documents GROUP BY source ORDER BY source"),

    // Quoted-CSV replay: round-trip fidelity means the summary equals
    // the ORIGINAL relation's — payload adds exactly 6 chars per doc
    "source_csv_quoted" ->
      ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(SUM(length(text) + 6) AS BIGINT) AS payload_chars " +
        "FROM documents GROUP BY source ORDER BY source"),

    "source_csv_header_map" ->
      (s"SELECT ${sqlSentinel("event_type")} AS event_type, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id " +
        "FROM events GROUP BY 1 ORDER BY event_type"),

    "source_csv_quarantine" ->
      (s"SELECT event_type, n_rows, value_sum, first_id, last_id FROM (" +
        s"SELECT ${sqlSentinel("event_type")} AS event_type, COUNT(*) AS n_rows, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id FROM events GROUP BY 1 " +
        "UNION ALL SELECT '__quarantined__', 3, CAST(NULL AS DOUBLE), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)) ORDER BY event_type"),

    // null-literal replay: the NA lane recomputed from parquet — a
    // sentinel dropped on either end shifts n_na and cents_sum
    "source_csv_null_literals" ->
      ("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_na, " +
        "CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 0 ELSE " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END) AS BIGINT) AS cents_sum " +
        "FROM events GROUP BY 1 ORDER BY event_type"),

    "source_jsonl_quarantine" ->
      (s"SELECT event_type, n_rows, value_sum, first_id, last_id FROM (" +
        s"SELECT ${sqlSentinel("event_type")} AS event_type, COUNT(*) AS n_rows, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id FROM events GROUP BY 1 " +
        "UNION ALL SELECT '__quarantined__', 3, CAST(NULL AS DOUBLE), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)) ORDER BY event_type"),

    // the streaming parser must reach the same fidelity summary as the
    // batch json source on the identical wire — shared oracle text
    "stream_ingest_parity" ->
      (s"SELECT event_type, n_rows, value_sum, first_id, last_id FROM (" +
        s"SELECT ${sqlSentinel("event_type")} AS event_type, COUNT(*) AS n_rows, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id FROM events GROUP BY 1 " +
        "UNION ALL SELECT '__quarantined__', 3, CAST(NULL AS DOUBLE), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)) ORDER BY event_type"),

    // schema evolution: replay from the original relation + the parity
    // split — gen 1 has only NULL scores, gen 2 only real ones
    // JSONL-sink replay: round-trip fidelity — the summary equals the
    // original relation's (doubles survive via shortest-form JSON)
    "sink_jsonl_roundtrip" ->
      ("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // CSV round-trip: write→parse→read loses nothing — the landed
    // summary equals the source relation's, money in exact cents
    "sink_csv_roundtrip" ->
      ("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS cents_sum " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // gzip CSV: same lossless-summary statement as the plain CSV leg
    "sink_csv_gzip" ->
      (s"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        s"CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS cents_sum " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // multi-delim round-trip must be lossless: same summary relation
    "source_csv_multichar_delim" ->
      (s"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        s"CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS cents_sum " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // binary-file replay: the blob is text + one trailing newline (the
    // text writer's contract) — byte length and md5 re-derived
    "source_binary_files" ->
      ("SELECT doc_id, CAST(strlen(text) + 1 AS BIGINT) AS n_bytes, " +
        "md5(text || chr(10)) AS h FROM documents WHERE doc_id < 500 " +
        "ORDER BY doc_id"),

    // ORC replay: round-trip fidelity — the summary equals the
    // original relation's, nested hop included
    "source_orc_nested" ->
      ("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // hive-partition replay: pruning changes IO, never answers — the
    // oracle is the plain filtered aggregate over the original relation
    "source_hive_partitioned" -> {
      val keep = graft.sources.ParquetEvolution.HivePruneKeep
        .map(v => s"'$v'").mkString(", ")
      (s"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum " +
        s"FROM events WHERE event_type IN ($keep) " +
        "GROUP BY 1 ORDER BY 1")
    },

    "source_schema_evolve" ->
      (s"SELECT event_type, gen, n_rows, value_sum, score_sum, n_score_null FROM (" +
        s"SELECT ${sqlSentinel("event_type")} AS event_type, CAST(1 AS BIGINT) AS gen, " +
        "COUNT(*) AS n_rows, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
        "CAST(NULL AS DOUBLE) AS score_sum, COUNT(*) AS n_score_null " +
        "FROM events WHERE event_id % 2 = 0 GROUP BY 1 " +
        s"UNION ALL SELECT ${sqlSentinel("event_type")}, CAST(2 AS BIGINT), COUNT(*), " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), " +
        "CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(12,2)) * 2 AS DOUBLE) " +
        "AS DECIMAL(12,2))) AS DOUBLE), CAST(0 AS BIGINT) " +
        "FROM events WHERE event_id % 2 = 1 GROUP BY 1" +
        ") ORDER BY event_type, gen"),

    // replay from the ORIGINAL relation + the mod-3 split: identical
    // summaries regardless of which generation's physical type held a
    // row — a truncated promotion or a lost generation breaks a sum
    "source_schema_widen" ->
      (s"SELECT event_type, gen, n_rows, amount_sum, value_sum FROM (" +
        (1 to 3).map { g =>
          s"SELECT ${sqlSentinel("event_type")} AS event_type, " +
            s"CAST($g AS BIGINT) AS gen, COUNT(*) AS n_rows, " +
            "CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS amount_sum, " +
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum " +
            s"FROM events WHERE event_id % 3 = ${g - 1} GROUP BY 1"
        }.mkString(" UNION ALL ") +
        ") ORDER BY event_type, gen"),

    // gen 1 carries only the data's own props-nulls; gen 2 exactly its
    // row count (the column genuinely ended)
    "source_schema_drop" ->
      (s"SELECT event_type, gen, n_rows, value_sum, n_props_null, " +
        "n_props_present FROM (" +
        (1 to 2).map { g =>
          val dropped = g == 2
          s"SELECT ${sqlSentinel("event_type")} AS event_type, " +
            s"CAST($g AS BIGINT) AS gen, COUNT(*) AS n_rows, " +
            "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum, " +
            (if (dropped) "COUNT(*) AS n_props_null, CAST(0 AS BIGINT) AS n_props_present "
             else "CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_props_null, " +
               "COUNT(props) AS n_props_present ") +
            s"FROM events WHERE event_id % 2 = ${g - 1} GROUP BY 1"
        }.mkString(" UNION ALL ") +
        ") ORDER BY event_type, gen"),

    // drift-ledger replay: the four-generation lineage's edge set is a
    // constant table (the fixture's drift moves), the per-generation
    // row counts come from the split rule — a footer that lied about a
    // generation's schema, a lost generation, or a wrong count breaks
    // a row
    "quality_schema_drift" ->
      ("WITH g AS (SELECT CAST((event_id % 4) + 1 AS BIGINT) AS to_gen, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows_to_gen FROM events GROUP BY 1), " +
        "e(from_gen, to_gen, col_name, change, from_type, to_type) AS (VALUES " +
        "(CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'score', 'added', CAST(NULL AS VARCHAR), 'DOUBLE'), " +
        "(2, 3, 'amount', 'retyped', 'INT', 'BIGINT'), " +
        "(2, 3, 'props', 'dropped', 'STRING', CAST(NULL AS VARCHAR)), " +
        "(3, 4, 'value', 'retyped', 'DECIMAL(12,2)', 'DECIMAL(18,2)')) " +
        "SELECT e.from_gen, e.to_gen, e.col_name, e.change, e.from_type, " +
        "e.to_type, g.n_rows_to_gen " +
        "FROM e JOIN g ON g.to_gen = e.to_gen ORDER BY e.to_gen, e.col_name"),

    "batch_barrier" ->
      ("SELECT event_id // 1000 AS batch_id, COUNT(*) AS n_rows, " +
        "MIN(event_id) AS first_row, MAX(event_id) AS last_row " +
        "FROM events GROUP BY 1 ORDER BY batch_id"),

    "parallel_sink_write" ->
      (s"SELECT (ascii(substring(md5(ep),1,1)) % 4) AS writer_id, " +
        "COUNT(DISTINCT ep) AS n_endpoints, COUNT(*) AS n_rows " +
        s"FROM (SELECT ${sqlSentinel("event_type")} AS ep FROM events) " +
        "GROUP BY 1 ORDER BY writer_id"),

    "sink_txn_batch" ->
      (s"SELECT event_type, COUNT(*) AS n_rows, MIN(j) AS first_payload " +
        s"FROM (SELECT ${sqlSentinel("event_type")} AS event_type, $sqlEventsPayload AS j FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),

    // exactly-once across batch commits + byte-identical payload
    // encoding — the shared statement IS the conduit parity claim
    "stream_export_parity" ->
      (s"SELECT event_type, COUNT(*) AS n_rows, MIN(j) AS first_payload " +
        s"FROM (SELECT ${sqlSentinel("event_type")} AS event_type, $sqlEventsPayload AS j FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),

    // the no-failure run's counts ARE the exactly-once claim: a
    // duplicated (appended) redelivery would double batch 1's rows
    "stream_export_exactly_once" ->
      (s"SELECT event_type, COUNT(*) AS n_rows, MIN(j) AS first_payload " +
        s"FROM (SELECT ${sqlSentinel("event_type")} AS event_type, $sqlEventsPayload AS j FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),

    "sink_catalog_orc" ->
      (s"SELECT event_type, COUNT(*) AS n_rows, MIN(j) AS first_payload " +
        s"FROM (SELECT ${sqlSentinel("event_type")} AS event_type, $sqlEventsPayload AS j FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),

    // z-order replay: min/max bounds, 4-bit normalization (integer div
    // — `//` floors = Spark `div` truncation on the non-negative
    // domain), 4+4-bit interleave, per-cell stats
    "layout_zorder" ->
      ("WITH k AS (SELECT o_custkey AS ck, " +
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd " +
        "FROM orders), " +
        "b AS (SELECT MIN(ck) AS ck_lo, MAX(ck) AS ck_hi, " +
        "MIN(dd) AS dd_lo, MAX(dd) AS dd_hi FROM k), " +
        "z AS (SELECT ck, dd, " +
        "((ck - ck_lo) * 15) // greatest(ck_hi - ck_lo, 1) AS nk, " +
        "((dd - dd_lo) * 15) // greatest(dd_hi - dd_lo, 1) AS nd FROM k, b), " +
        "zc AS (SELECT ck, dd, " +
        (0 until 4).map(i =>
          s"(((nk >> $i) & 1) << ${2 * i}) + (((nd >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ") +
        " AS zcell FROM z) " +
        "SELECT zcell, COUNT(*) AS n, MIN(ck) AS ck_min, MAX(ck) AS ck_max, " +
        "MIN(dd) AS dd_min, MAX(dd) AS dd_max " +
        "FROM zc GROUP BY zcell ORDER BY zcell"),

    // Hilbert replay: same bounds/normalization CTEs, then the xy→d
    // walk as a 4-step CTE chain (quadrant digit + reflect/swap per
    // level — new x reads OLD y, which SQL's step-per-CTE gives for
    // free, mirroring the column chain in ExportPipeline.hilbertD)
    "layout_hilbert" -> {
      val steps = (3 to 0 by -1).zipWithIndex.map { case (s, i) =>
        val sv = 1L << s
        s"h${i + 1} AS (SELECT ck, dd, " +
          s"d + ${sv * sv} * xor(3 * (CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END), " +
          s"(CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END)) AS d, " +
          s"CASE WHEN (y & $sv) = 0 THEN (CASE WHEN (x & $sv) > 0 THEN ${sv - 1} - y ELSE y END) ELSE x END AS x, " +
          s"CASE WHEN (y & $sv) = 0 THEN (CASE WHEN (x & $sv) > 0 THEN ${sv - 1} - x ELSE x END) ELSE y END AS y " +
          s"FROM h$i)"
      }.mkString(", ")
      "WITH k AS (SELECT o_custkey AS ck, " +
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd " +
        "FROM orders), " +
        "b AS (SELECT MIN(ck) AS ck_lo, MAX(ck) AS ck_hi, " +
        "MIN(dd) AS dd_lo, MAX(dd) AS dd_hi FROM k), " +
        "z AS (SELECT ck, dd, " +
        "((ck - ck_lo) * 15) // greatest(ck_hi - ck_lo, 1) AS nk, " +
        "((dd - dd_lo) * 15) // greatest(dd_hi - dd_lo, 1) AS nd FROM k, b), " +
        "h0 AS (SELECT ck, dd, CAST(0 AS BIGINT) AS d, nk AS x, nd AS y FROM z), " +
        steps +
        " SELECT d AS hcell, COUNT(*) AS n, MIN(ck) AS ck_min, MAX(ck) AS ck_max, " +
        "MIN(dd) AS dd_min, MAX(dd) AS dd_max " +
        "FROM h4 GROUP BY 1 ORDER BY 1"
    },

    // the pruned z-order read must return EXACTLY the predicate rows —
    // cell pruning plus the re-applied exact filter is lossless
    "layout_zorder_read" ->
      ("SELECT o_orderkey, o_custkey AS ck, " +
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd " +
        "FROM orders WHERE o_custkey BETWEEN 1 AND 300 ORDER BY o_orderkey"),

    // compaction must be lossless: the oracle is the original relation
    // (event_type sentineled, mirroring compactRoundTrip's write)
    "sink_compact" ->
      (s"SELECT event_id, user_id, ${sqlSentinel("event_type")} AS event_type, " +
        "value FROM events ORDER BY event_id"),

    // delete-vector end state: the base minus the tombstoned keys —
    // the whole MoR + compaction lifecycle must be exactly this
    "sink_delete_vectors" ->
      (s"SELECT event_id, user_id, ${sqlSentinel("event_type")} AS event_type, " +
        "value FROM events WHERE event_id % 7 != 3 ORDER BY event_id"),

    // layout migration must be lossless: both generations together are
    // exactly the source relation
    "sink_partition_migrate" ->
      (s"SELECT event_id, user_id, ${sqlSentinel("event_type")} AS event_type, " +
        "value FROM events ORDER BY event_id"),

    // CAST(ts AS TIMESTAMP) mirrors the engine's µs truncation (the
    // parquet ts is nanos): without it, two same-user events inside one
    // microsecond would order by raw nanos here but by the event_id
    // tiebreak in Spark — same discipline as join_asof's oracle
    "event_journey" ->
      ("SELECT user_id, COUNT(*) AS n_events, " +
        "string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS journey " +
        "FROM events GROUP BY user_id ORDER BY user_id"),

    // last-touch attribution: same strictly-before window, exact
    // interval arithmetic (no epoch truncation), decimal-exact credit
    "event_attribution" ->
      ("WITH a AS (SELECT user_id, event_id, event_type, value, " +
        "CAST(ts AS TIMESTAMP) AS ts, " +
        "last_value(CASE WHEN event_type IN ('click','view','signup') " +
        "THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts, " +
        "last_value(CASE WHEN event_type IN ('click','view','signup') " +
        "THEN event_type END IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type " +
        "FROM events), " +
        "c AS (SELECT CASE WHEN lt_ts IS NOT NULL AND " +
        "ts <= lt_ts + INTERVAL 12 HOUR THEN lt_type ELSE '__none__' END " +
        "AS touch, value, user_id FROM a WHERE event_type = 'purchase') " +
        "SELECT touch, COUNT(*) AS n_conversions, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS credited_value, " +
        "COUNT(DISTINCT user_id) AS n_users " +
        "FROM c GROUP BY 1 ORDER BY 1"),

    // multi-touch: forward first-following-conversion window (µs-cast ts
    // so ns-precision ties rank identically), then per-conversion ppm
    // credit splits — all integer floors with remainder-to-last, so the
    // replay is exact under every model
    "event_attribution_multi" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, " +
        "CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "nx AS (SELECT event_id, event_type, " +
        "first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER w AS nc_id, " +
        "first_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS) OVER w AS nc_us, " +
        "epoch_us(ts) AS t_us FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)), " +
        "t AS (SELECT nc_id AS conv_event_id, nc_us, event_id AS touch_event_id, t_us " +
        "FROM nx WHERE event_type IN ('click','view','signup') AND nc_id IS NOT NULL), " +
        "r AS (SELECT conv_event_id, touch_event_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY conv_event_id ORDER BY t_us, touch_event_id) AS BIGINT) AS touch_rank, " +
        "CAST(COUNT(*) OVER (PARTITION BY conv_event_id) AS BIGINT) AS n_touches, " +
        "least((nc_us - t_us) // 3600000000, 30) AS k FROM t), " +
        "w2 AS (SELECT *, (CAST(1 AS BIGINT) << CAST(30 - k AS INTEGER)) AS w FROM r), " +
        "w3 AS (SELECT *, (w * 1000000) // (SUM(w) OVER (PARTITION BY conv_event_id)) AS dec_base FROM w2), " +
        "w4 AS (SELECT *, SUM(dec_base) OVER (PARTITION BY conv_event_id) AS dec_sum FROM w3), " +
        "cr AS (SELECT conv_event_id, touch_event_id, touch_rank, n_touches, " +
        "1000000 // n_touches + CASE WHEN touch_rank = n_touches " +
        "THEN 1000000 - n_touches * (1000000 // n_touches) ELSE 0 END AS linear_ppm, " +
        "dec_base + CASE WHEN touch_rank = n_touches THEN 1000000 - dec_sum ELSE 0 END AS decay_ppm, " +
        "CASE WHEN n_touches = 1 THEN 1000000 WHEN n_touches = 2 THEN 500000 " +
        "WHEN touch_rank = 1 OR touch_rank = n_touches THEN 400000 " +
        "ELSE 200000 // (n_touches - 2) + CASE WHEN touch_rank = n_touches - 1 " +
        "THEN 200000 - (n_touches - 2) * (200000 // (n_touches - 2)) ELSE 0 END END AS position_ppm " +
        "FROM w4), " +
        "nt AS (SELECT event_id AS conv_event_id, CAST(NULL AS BIGINT) AS touch_event_id, " +
        "CAST(0 AS BIGINT) AS touch_rank, CAST(0 AS BIGINT) AS n_touches, " +
        "1000000 AS linear_ppm, 1000000 AS decay_ppm, 1000000 AS position_ppm " +
        "FROM e WHERE event_type = 'purchase' " +
        "AND event_id NOT IN (SELECT conv_event_id FROM cr)) " +
        "SELECT conv_event_id, touch_event_id, touch_rank, n_touches, " +
        "CAST(linear_ppm AS BIGINT) AS linear_ppm, CAST(decay_ppm AS BIGINT) AS decay_ppm, " +
        "CAST(position_ppm AS BIGINT) AS position_ppm " +
        "FROM (SELECT * FROM cr UNION ALL SELECT * FROM nt) " +
        "ORDER BY conv_event_id, touch_rank"),

    "conn_pool" ->
      (s"WITH ls AS (SELECT ${sqlSentinel("event_type")} AS endpoint, " +
        "MAX(CAST(ts AS TIMESTAMP)) AS last_seen, COUNT(*) AS n_uses FROM events GROUP BY 1), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY last_seen DESC, endpoint) AS lru_rank, " +
        "CAST(floor(epoch(MAX(last_seen) OVER ())) AS BIGINT) - CAST(floor(epoch(last_seen)) AS BIGINT) AS idle_sec FROM ls) " +
        "SELECT endpoint, last_seen, n_uses, lru_rank, idle_sec, " +
        "(lru_rank <= 64 AND idle_sec < 1800) AS cached FROM r ORDER BY endpoint"),

    "retry_reconnect" ->
      ("SELECT * FROM (VALUES " +
        "('txn_batch_fetch',1,30,'retry'),('txn_batch_fetch',2,30,'retry')," +
        "('txn_batch_fetch',3,30,'retry'),('txn_batch_fetch',4,0,'reconnect')," +
        "('write',1,0,'reconnect_and_retry'),('write',2,0,'reconnect_and_retry')," +
        "('write',3,0,'restart_block')) " +
        "AS t(operation, attempt, backoff_ms, on_failure) ORDER BY operation, attempt"),

    "rate_limited_log" ->
      ("SELECT event_type, time_bucket(INTERVAL 10 SECOND, CAST(ts AS TIMESTAMP)) AS win_start, " +
        "MIN(CAST(ts AS TIMESTAMP)) AS emitted_ts, COUNT(*) - 1 AS n_suppressed " +
        "FROM events GROUP BY 1, 2 ORDER BY event_type, win_start"),
  )
}
