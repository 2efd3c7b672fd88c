package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming CDC latest-wins upsert — the streaming face of
  * `cdc_upsert`: a change stream of versioned rows folded into
  * per-key state where the HIGHEST VERSION wins, the contract every
  * CDC sink (Debezium-shaped feeds, outbox tables) reduces to once the
  * transport is stripped away.
  *
  * Why this is the right stateful shape: the state per key is ONE
  * (version, row) pair — bounded by the LIVE key set, not the change
  * volume (a key updated a million times holds one row of state), and
  * the merge is a MAX-fold: ORDER-INSENSITIVE, so any micro-batch
  * slicing, file arrival order, or repartitioning converges to the
  * same final state (the KMV-state doctrine — this is the property the
  * parity replay pins). A version tie never occurs by construction of
  * the feed (version is part of the change identity); on a malformed
  * feed the higher-(version) row wins deterministically and ties keep
  * the incumbent.
  *
  * At 100 TB the live key set itself outgrows one state store — the
  * production layout shards the stream BY KEY (it already is: state is
  * hash-partitioned on the group key) and ages out tombstoned keys
  * with a timeout; both are engine knobs, not operator changes. */
object StreamingCdc {

  /** Bounded per-key state: the winning version and its row payload. */
  final case class CdcState(version: Long, custkey: Long, priceCents: Long)

  /** One update row per touched key per micro-batch: the key's current
    * winner. */
  final case class CdcRow(o_orderkey: Long, version: Long, o_custkey: Long,
                          price_cents: Long)

  /** Latest-wins fold over a stream of (o_orderkey, version, o_custkey,
    * price_cents) change rows. OutputMode must be Update. */
  def latestWins(changes: DataFrame): Dataset[CdcRow] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .selectExpr("o_orderkey", "version", "o_custkey", "price_cents")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[CdcState]) =>
          val incoming = rows.maxBy(_._2)
          val best = state.getOption match {
            case Some(s) if s.version >= incoming._2 => s
            case _ => CdcState(incoming._2, incoming._3, incoming._4)
          }
          state.update(best)
          Iterator(CdcRow(key, best.version, best.custkey, best.priceCents))
      }
  }

  /** END-TO-END CDC-state parity replay — the change feed derived from
    * `orders` exactly as the batch `cdc_upsert` key derives it (every
    * row at version 1; keys ≡ 0 mod 7 re-shipped at version 2 with
    * +100.00; keys ≡ 0 mod 97 inserted under a disjoint key space),
    * staged so a key's versions SPAN micro-batches
    * (repartitionByRange on (version, key) puts v1 and v2 in different
    * files), replayed ([[Replay]]) through [[latestWins]] in UPDATE
    * mode, each batch's touched keys committed to `batch_id=N`; the
    * final answer takes each key's row from its LARGEST batch id.
    * Because the state fold is a max-merge, any file order converges to
    * the same final relation — the replay pins that claim against the
    * batch latest-wins oracle. */
  def cdcParityReplay(orders: DataFrame, srcDir: String, outDir: String,
                      checkpointDir: String, nFiles: Int = 5): DataFrame = {
    val spark = orders.sparkSession
    val base = orders.select(col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
        * 100).cast("long").as("price_cents"),
      lit(1L).as("version"))
    val updates = base.filter(pmod(col("o_orderkey"), lit(7L)) === 0)
      .withColumn("price_cents", col("price_cents") + 10000L)
      .withColumn("version", lit(2L))
    val inserts = base.filter(pmod(col("o_orderkey"), lit(97L)) === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
    val staged = Replay.stage(base.unionByName(updates).unionByName(inserts)
      .repartitionByRange(nFiles, col("version"), col("o_orderkey")),
      srcDir, nFiles)
    val winners = latestWins(staged.stream).toDF()
    Replay.drainEach(winners, checkpointDir, "update")(Replay.commit(outDir))
    // final state per key: the row from its largest committed batch
    Replay.readCommits(spark, outDir, winners.schema)
      .groupBy(col("o_orderkey"))
      .agg(max_by(
        struct(col("version"), col("o_custkey"), col("price_cents")),
        col("batch_id")).as("s"))
      .select(col("o_orderkey"), col("s.version").as("version"),
        col("s.o_custkey").as("o_custkey"),
        col("s.price_cents").as("price_cents"))
      .orderBy(col("o_orderkey"))
  }
}
