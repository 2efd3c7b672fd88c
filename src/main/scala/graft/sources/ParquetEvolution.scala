package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parquet SCHEMA EVOLUTION round-trip — the third lake-ingest contract
  * next to the text-source quarantines: a long-lived table accretes
  * columns across writer generations, and the reader must unify the
  * generations (`mergeSchema`) with NULL back-fill for rows written
  * before a column existed — never dropping a column, never inventing a
  * value. This is what `schema_prime`'s single-generation priming
  * becomes once a second writer generation ships.
  *
  * Round-trip: the relation splits by event_id parity into generation 1
  * (original 4-column schema) and generation 2 (adds a derived `score`
  * column), each written under its own `gen=N` hive partition;
  * `mergeSchema` read-back unifies; ONE aggregation summarizes per
  * (event_type, gen): counts, exact-decimal value sums, score sums and
  * the NULL-back-fill count. The DuckDB oracle replays the summary from
  * the ORIGINAL relation plus the split rule, so a reader that loses a
  * generation's rows, drops the new column, or back-fills anything but
  * NULL breaks a count or a sum. */
object ParquetEvolution {

  private lazy val scratchRoot: java.nio.file.Path =
    graft.Scratch.dir("graft_evolve_")

  /** Generation-2 derived column: exact decimal double of the value,
    * surfaced as double (deterministic in any engine). */
  private def score = (col("value").cast(DecimalType(12, 2)) * 2)
    .cast("double")

  def evolveRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/evolve-${java.util.UUID.randomUUID()}"
    val base = events.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    base.filter(pmod(col("event_id"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$out/gen=1")
    base.filter(pmod(col("event_id"), lit(2)) === 1)
      .withColumn("score", score)
      .write.mode("overwrite").parquet(s"$out/gen=2")
    val back = spark.read.option("mergeSchema", "true").parquet(out)
    back.groupBy(
        graft.operators.ExportOps.nullSentinel(col("event_type"))
          .as("event_type"),
        col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("value_sum"),
        sum(col("score").cast(DecimalType(12, 2))).cast("double")
          .as("score_sum"),
        sum(when(col("score").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_score_null"))
      .orderBy(col("event_type"), col("gen"))
  }

  /** TYPE-WIDENING schema evolution (round 11) — the OTHER evolution a
    * long-lived sink hits beyond add-column: a later writer generation
    * outgrows a column's type (INT overflows → BIGINT; a decimal's
    * precision grows), and the reader must promote the narrower
    * physical types of the older files at scan time instead of
    * rewriting history. Reference lifecycle: the conduit rotates writer
    * generations over one logical table
    * (`hive/HiveExportClient.java:199-207`); Spark's parquet reader has
    * supported exactly these widening promotions since 4.0
    * (SPARK-40876: int32→int64, decimal precision growth at equal
    * scale), so the round-trip is the engine-native form.
    *
    * Round-trip: the relation splits by event_id mod 3 into three
    * writer generations of one logical table —
    *   gen 1: `amount` INT,    `value` DECIMAL(12,2)
    *   gen 2: `amount` BIGINT, `value` DECIMAL(12,2)   (INT outgrown)
    *   gen 3: `amount` BIGINT, `value` DECIMAL(18,2)   (precision grown)
    * — then ONE read under the explicit widened schema (BIGINT /
    * DECIMAL(18,2); `mergeSchema` cannot unify conflicting primitive
    * types — explicit-schema promotion is the documented path) and one
    * summary per (event_type, gen): counts, exact BIGINT amount sums,
    * exact-decimal value sums. The DuckDB oracle replays the summary
    * from the ORIGINAL relation plus the split rule, so a reader that
    * truncates a promoted value, loses a generation, or mangles a
    * decimal rescale breaks a count or a sum. */
  def widenRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"$scratchRoot/widen-${java.util.UUID.randomUUID()}"
    // amount: the integer face of value (floor — identical semantics in
    // both engines on the non-negative domain; values are ≤ 3 digits,
    // so gen 1's INT genuinely holds it)
    val base = events.select(col("event_id"), col("event_type"),
      col("value"), floor(col("value")).as("amt"))
    base.filter(pmod(col("event_id"), lit(3)) === 0)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("int").as("amount"),
        col("value").cast(DecimalType(12, 2)).as("value"))
      .write.mode("overwrite").parquet(s"$out/gen=1")
    base.filter(pmod(col("event_id"), lit(3)) === 1)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("long").as("amount"),
        col("value").cast(DecimalType(12, 2)).as("value"))
      .write.mode("overwrite").parquet(s"$out/gen=2")
    base.filter(pmod(col("event_id"), lit(3)) === 2)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("long").as("amount"),
        col("value").cast(DecimalType(18, 2)).as("value"))
      .write.mode("overwrite").parquet(s"$out/gen=3")
    val widened = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("amount", LongType),           // int32 files promote
      StructField("value", DecimalType(18, 2)),  // (12,2) files promote
      StructField("gen", IntegerType)))          // partition column
    val back = spark.read.schema(widened).parquet(out)
    back.groupBy(
        graft.operators.ExportOps.nullSentinel(col("event_type"))
          .as("event_type"),
        col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("amount")).as("amount_sum"),
        sum(col("value")).cast("double").as("value_sum"))
      .orderBy(col("event_type"), col("gen"))
  }

  /** COLUMN-DROP schema evolution (round 11) — the third generation
    * move beside add ([[evolveRoundTrip]]) and widen
    * ([[widenRoundTrip]]): a later writer generation STOPS emitting a
    * column (the upstream feed retired it), and the reader must keep
    * serving the unified schema with NULLs where the data genuinely
    * ended — the mirror image of add-column's back-fill, and the one
    * that silently becomes "the column is all NULL from March" in a
    * real lake unless the read contract is pinned.
    *
    * Round-trip: gen 1 writes the full 4-column schema; gen 2 drops
    * `props`; the `mergeSchema` read-back unifies (drop is just
    * add-in-reverse for parquet — no type conflict), and the summary
    * counts the forward-fill NULLs per generation. The oracle replays
    * from the ORIGINAL relation + split rule: gen 1 must carry ZERO
    * props-nulls beyond the data's own, gen 2 exactly its row count —
    * a reader that resurrects dropped values or loses the column
    * entirely breaks a count. */
  /** SCHEMA-DRIFT MONITOR (round 14) — the per-generation column
    * add/drop/type-change LEDGER a conduit operator reads when a
    * producer ships a new schema: which columns appeared, disappeared
    * or changed type between adjacent writer generations, and how many
    * rows the new generation carries. Completes the quality_* family
    * (orphans → `quality_fk_orphans`, length shapes →
    * `quality_len_drift`, schema surface → THIS); builds on the three
    * evolution moves proven one-at-a-time by [[evolveRoundTrip]] /
    * [[widenRoundTrip]] / [[dropRoundTrip]] by writing ONE
    * four-generation lineage that exercises all of them:
    *
    *   gen 1: event_id, event_type, amount INT, value DECIMAL(12,2), props
    *   gen 2: + score DOUBLE                        (column added)
    *   gen 3: − props; amount INT→BIGINT            (dropped + retyped)
    *   gen 4: value DECIMAL(12,2)→DECIMAL(18,2)     (retyped)
    *
    * The ledger's schema edges come from the PARQUET FOOTERS of the
    * written generations (metadata-only reads — what a real drift
    * monitor inspects; a generation whose writer lied about its schema
    * is caught here, not by re-deriving from the writer's plan), the
    * row counts from one data read of the target generation. Footer
    * comparison is driver-side over ≤ |columns|·|generations| entries
    * — schema metadata, never data; the counts join is a broadcast of
    * the ≤ 4-row edge table.
    *
    * Output: (from_gen, to_gen, col_name, change, from_type, to_type,
    * n_rows_to_gen), ordered by (to_gen, col_name) — change ∈
    * {added, dropped, retyped}; types in Spark DDL form. */
  def driftLedger(spark: SparkSession, events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"$scratchRoot/drift-${java.util.UUID.randomUUID()}"
    val base = events.select(col("event_id"), col("event_type"),
      col("value"), col("props"), floor(col("value")).as("amt"))
    def gen(g: Int) = base.filter(pmod(col("event_id"), lit(4)) === (g - 1))
    gen(1)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("int").as("amount"),
        col("value").cast(DecimalType(12, 2)).as("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/gen=1")
    gen(2)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("int").as("amount"),
        col("value").cast(DecimalType(12, 2)).as("value"), col("props"),
        score.as("score"))
      .write.mode("overwrite").parquet(s"$out/gen=2")
    gen(3)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("long").as("amount"),
        col("value").cast(DecimalType(12, 2)).as("value"), score.as("score"))
      .write.mode("overwrite").parquet(s"$out/gen=3")
    gen(4)
      .select(col("event_id"), col("event_type"),
        col("amt").cast("long").as("amount"),
        col("value").cast(DecimalType(18, 2)).as("value"), score.as("score"))
      .write.mode("overwrite").parquet(s"$out/gen=4")
    // footer schemas (metadata-only), compared adjacent-pairwise
    val schemas = (1 to 4).map(g =>
      g -> spark.read.parquet(s"$out/gen=$g").schema)
    val edges = schemas.sliding(2).flatMap { case Seq((ga, sa), (gb, sb)) =>
      val fa = sa.fields.map(f => f.name -> f.dataType).toMap
      val fb = sb.fields.map(f => f.name -> f.dataType).toMap
      val added = (fb.keySet -- fa.keySet).toSeq.map(c =>
        (ga.toLong, gb.toLong, c, "added", null: String, fb(c).sql))
      val dropped = (fa.keySet -- fb.keySet).toSeq.map(c =>
        (ga.toLong, gb.toLong, c, "dropped", fa(c).sql, null: String))
      val retyped = (fa.keySet & fb.keySet).toSeq
        .filter(c => fa(c) != fb(c)).map(c =>
          (ga.toLong, gb.toLong, c, "retyped", fa(c).sql, fb(c).sql))
      added ++ dropped ++ retyped
    }.toSeq
    import spark.implicits._
    val edgeDf = edges.toDF("from_gen", "to_gen", "col_name", "change",
      "from_type", "to_type")
    // target-generation row counts from the data (the split rule)
    val counts = events
      .groupBy((pmod(col("event_id"), lit(4)) + 1).as("to_gen"))
      .agg(count(lit(1)).as("n_rows_to_gen"))
    counts.join(broadcast(edgeDf), Seq("to_gen"))
      .select(col("from_gen"), col("to_gen"), col("col_name"),
        col("change"), col("from_type"), col("to_type"),
        col("n_rows_to_gen"))
      .orderBy(col("to_gen"), col("col_name"))
  }

  def dropRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/drop-${java.util.UUID.randomUUID()}"
    val base = events.select(col("event_id"), col("event_type"),
      col("value"), col("props"))
    base.filter(pmod(col("event_id"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$out/gen=1")
    base.filter(pmod(col("event_id"), lit(2)) === 1)
      .drop("props")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    val back = spark.read.option("mergeSchema", "true").parquet(out)
    back.groupBy(
        graft.operators.ExportOps.nullSentinel(col("event_type"))
          .as("event_type"),
        col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("value_sum"),
        sum(when(col("props").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_props_null"),
        count(col("props")).as("n_props_present"))
      .orderBy(col("event_type"), col("gen"))
  }

  /** Partition values the pruned read keeps, shared with the oracle. */
  val HivePruneKeep: Seq[String] = Seq("click", "purchase")

  /** HIVE-PARTITIONED LAYOUT + PARTITION PRUNING (round 14) — the lake
    * layout contract `source_schema_evolve` assumes and the pruning
    * behavior that makes it pay at 100 TB: write the relation
    * partitioned BY A DATA COLUMN (dynamic partitionBy — the value
    * moves from the row into the directory name and back), read it
    * back through partition discovery, and aggregate under a filter on
    * the partition column. The filter must become a PartitionFilter
    * (directory-level pruning, [[HivePruneKeep]] = 2 of the 5 type
    * directories ever opened — plan-asserted in SourcesSpec, the scan
    * reads 2/5 of the files); a reader that treats the partition
    * column as data scans everything and filters late — correct
    * answers, 2.5× the IO, and at a date-partitioned 100 TB table the
    * difference between a day query and a full-table scan.
    *
    * Output per kept type: (event_type, n_rows, n_users, value_sum) —
    * value exact-decimal-summed then surfaced as double. */
  def hivePartitionedPrunedRead(spark: SparkSession,
                                events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/hivepart-${java.util.UUID.randomUUID()}"
    val slim = events.select(col("event_id"), col("user_id"), col("value"),
      col("event_type"))
    slim.write.mode("overwrite").partitionBy("event_type").parquet(out)
    // explicit read schema: an EMPTY relation writes zero partition
    // directories and schema inference would throw; the partition
    // column participates in discovery even when declared
    spark.read.schema(slim.schema).parquet(out)
      .filter(col("event_type").isin(HivePruneKeep: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("value_sum"))
      .orderBy(col("event_type"))
  }
}
