package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming face of Relational.enrichOrders / B7 join_enrich: a
  * stream-static equi-join against a (broadcast) dimension frame.
  *
  * Stream-static joins are STATELESS — each micro-batch joins the
  * current dim snapshot, no watermark or state store involved — so
  * append mode works unconditionally and the plan inside every
  * micro-batch is exactly the batch enrichment plan: broadcast dim, the
  * streaming side never shuffles. `how = "left"` keeps unmatched stream
  * rows (late dim arrival tolerant); inner drops them. The dim is
  * re-read per micro-batch when backed by a file source — a slowly
  * changing dimension picks up updates without restarting the query. */
object StreamingEnrich {

  def enrich(stream: DataFrame, dim: DataFrame, key: String,
             how: String = "inner"): DataFrame =
    stream.join(broadcast(dim), Seq(key), how)

  /** END-TO-END stream-static-join parity replay (round 12) — the
    * fifth streaming module under the driver's full oracle, and the
    * STATELESS counterpart of the window/session/dedup replays: the
    * orders relation is staged as `nFiles` o_orderkey-ranged files,
    * replayed ([[Replay]]), and every micro-batch
    * flows through ONE [[enrich]] call against the pre-joined
    * customer⋈nation⋈region dimension snapshot — the deployed
    * stream-static shape (broadcast dim, streaming side never
    * shuffles; the dim snapshot is built once with the same broadcast
    * star join as the batch `join_enrich` operator). Append batches
    * commit to `batch_id=N` directories; the union is hash-compared
    * against the batch key's OWN oracle SQL — stateless joins make
    * batch-splitting invisible by construction, and this key pins that
    * claim to the oracle.
    *
    * Scale shape: the replay is the production per-batch plan; the
    * split is one bounded repartitionByRange write. */
  def enrichParityReplay(orders: DataFrame, customer: DataFrame,
                         nation: DataFrame, region: DataFrame,
                         srcDir: String, outDir: String,
                         checkpointDir: String,
                         nFiles: Int = 5): DataFrame = {
    val spark = orders.sparkSession
    val staged = Replay.stage(orders.repartitionByRange(nFiles,
      col("o_orderkey")), srcDir, nFiles)
    // the dim snapshot: the same broadcast star join the batch
    // operator builds (Relational.enrichOrders), keyed for enrich()
    val dims = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey").as("o_custkey"), col("c_name"),
        col("c_mktsegment"), col("n_name").as("nation"),
        col("r_name").as("region"))
    val out = enrich(staged.stream, dims, "o_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("c_name"), col("c_mktsegment"),
        col("nation"), col("region"))
    Replay.drainEach(out, checkpointDir, "append")(Replay.commit(outDir))
    Replay.readBack(spark, outDir, out.schema)
      .select(out.columns.map(col): _*)
      .orderBy(col("o_orderkey"))
  }
}
