package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Columnar-format round-trips beyond parquet — the lake's second
  * first-class format. The reference conduit's default sink is ORC
  * (`sink_catalog_orc` writes it through the catalog); this module
  * proves the READ side of that contract, including the nested-type
  * path a flat smoke test misses. */
object ColumnarSources {

  private lazy val scratchRoot: java.nio.file.Path =
    graft.Scratch.dir("graft_columnar_")

  /** ORC ROUND-TRIP WITH A NESTED STRUCT (round 14) — write the event
    * relation as ORC with the (user, value) pair nested under a struct
    * column, read it back through Spark's ORC reader, and summarize
    * with the fidelity reduction the CSV sources use. The struct is
    * the point: ORC's nested encoding (separate column streams per
    * leaf, presence bits per level) is where a format bug hides —
    * a flat projection round-trips trivially. Values aggregate
    * exact-decimal; the DuckDB oracle replays the summary from the
    * ORIGINAL relation, so any loss in the ORC hop breaks a count or
    * a sum. Read uses an EXPLICIT schema (an empty relation writes no
    * data files and inference would throw — the hive-partitioned
    * lesson).
    *
    * Output: (event_type, n_rows, n_users, value_sum, first_id,
    * last_id), ordered by type. */
  def orcRoundTrip(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = s"$scratchRoot/orc-${java.util.UUID.randomUUID()}"
    val slim = events.select(col("event_id"), col("event_type"),
      struct(col("user_id").as("uid"), col("value").as("v")).as("payload"))
    slim.write.mode("overwrite").orc(out)
    spark.read.schema(slim.schema).orc(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("payload.uid")).as("n_users"),
        sum(col("payload.v").cast(DecimalType(12, 2))).cast("double")
          .as("value_sum"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .orderBy(col("event_type"))
  }
}
