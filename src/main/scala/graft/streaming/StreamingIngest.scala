package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming JSON-lines INGEST with malformed-row quarantine — the
  * streaming face of `source_jsonl_quarantine`: a log shipper / vendor
  * feed arrives as raw lines, and the landing gate must parse with an
  * EXPLICIT schema and route unparseable lines to a quarantine lane
  * instead of failing the query or silently dropping them. Entirely
  * STATELESS (a projection — no watermark, no state store), so it runs
  * in append mode at any rate and composes in front of every other
  * streaming operator here.
  *
  * Two quarantine shapes exist and both are covered: `from_json`
  * PERMISSIVE parsing captures field-level failures in the corrupt
  * column, and lines that do not decode to an OBJECT at all (broken
  * syntax, bare scalars) surface as a NULL struct — the gate folds both
  * into one `lane` verdict carrying the raw line for replay.
  *
  * Sealing caveat (shared with the batch source, TextSources): Spark
  * prunes `from_json` to the fields a consumer asks for, and a type
  * error in an unrequested field then goes undetected — the verdict
  * must be read off the FULL-width parse (a landing gate materializes
  * every column anyway; the spec drives it that way). */
object StreamingIngest {

  /** Explicit wire schema (the reference conduit's event shape) plus
    * the corrupt-record capture column. */
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("_corrupt", StringType)))

  val Quarantine = "quarantine"
  val Ok = "ok"

  /** Parse a stream (or batch) of raw JSON lines into the full-width
    * typed frame: wire fields + `_corrupt` + the `lane` verdict + the
    * raw line. Pure projection — streaming-safe in append mode. */
  def parseJsonLines(lines: DataFrame, rawCol: String = "line"): DataFrame = {
    val parsed = lines.select(
      from_json(col(rawCol), Schema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt")).as("r"),
      col(rawCol).as("raw"))
    parsed.select(
      col("r.event_id").as("event_id"),
      col("r.user_id").as("user_id"),
      col("r.event_type").as("event_type"),
      col("r.value").as("value"),
      // fold the two failure shapes into one verdict column: PERMISSIVE
      // field-level capture, and the NULL struct of a non-object line
      coalesce(col("r._corrupt"),
        when(col("r").isNull, col("raw"))).as("_corrupt"),
      col("raw"))
      .withColumn("lane",
        when(col("_corrupt").isNotNull, lit(Quarantine)).otherwise(lit(Ok)))
  }

  /** Per-batch fidelity summary for a foreachBatch landing gate — the
    * SAME contract as the batch source round-trips (TextSources
    * .summarize): per-type counts, exact-decimal value sums, id spans,
    * one quarantine marker row. */
  def summarizeBatch(parsed: DataFrame): DataFrame =
    graft.sources.TextSources.summarize(parsed)

  /** END-TO-END streaming-ingest parity replay (round 12) — the
    * SEVENTH streaming module under the driver's full oracle, closing
    * the landing-gate loop: the events relation is written to the SAME
    * JSONL wire as the batch round-trip (`nFiles` part files plus the
    * shared `TextSources.MalformedJsonl` tail file), replayed as a
    * text file stream ([[Replay]]) through
    * [[parseJsonLines]], each append batch landed to `batch_id=N`, and
    * the union summarized with the SAME fidelity reduction the batch
    * key uses — so the key shares `source_jsonl_quarantine`'s oracle
    * verbatim. Parsing is a pure row-wise projection (stateless), so
    * batch-splitting is invisible by construction; what this key PINS
    * is the parser-equivalence claim: the streaming `from_json` lane
    * verdicts (PERMISSIVE field capture + the NULL-struct fold for
    * non-object lines) must agree with the batch json source's
    * `_corrupt` semantics on every wire shape, malformed tail
    * included — a fold regression fails the hash compare.
    *
    * Scale shape: the replay is the production parse projection; the
    * wire write is one bounded repartition. */
  def ingestParityReplay(events: DataFrame, srcDir: String,
                         outDir: String, checkpointDir: String,
                         nFiles: Int = 4): DataFrame = {
    val spark = events.sparkSession
    // the wire parts, then the `zz_` malformed tail last
    val staged = Replay.stageFiles(spark, srcDir,
      StructType(Seq(StructField("value", StringType))), "text", nFiles) {
      events.select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(nFiles)
        .write.mode("overwrite").format("json").save(srcDir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, "zz_malformed.json"),
        (graft.sources.TextSources.MalformedJsonl.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val parsed = parseJsonLines(staged.stream.select(col("value").as("line")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("_corrupt"))
    Replay.drainEach(parsed, checkpointDir, "append")(Replay.commit(outDir))
    summarizeBatch(Replay.readBack(spark, outDir, parsed.schema)
      .select(parsed.columns.map(col): _*))
  }
}
