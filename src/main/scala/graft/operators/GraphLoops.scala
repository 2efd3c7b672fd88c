package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iteration kernel behind the graph family and
  * [[Dedup.connectedComponents]]: the edge relations every loop reads,
  * built one way, plus the two loop shapes — a frontier BFS and a
  * superstep loop (the Pregel superstep, Gonzalez et al. OSDI 2014,
  * expressed as relational algebra).
  *
  * Lazy vs eager: a loop whose steps are separate queries truncates
  * lineage with a local checkpoint per step, and an edge relation every
  * step re-reads is checkpointed once, hash-partitioned by its join key
  * (localCheckpoint preserves outputPartitioning, so later joins shuffle
  * only the small side). Those checkpoints are LAZY: the next step's
  * query, the convergence probe or the caller's action materializes
  * each one, so no step runs a count job of its own (an action that
  * reads only some partitions leaves the rest to Spark's catch-up job,
  * never to a wrong answer). A fold that stays ONE lazy plan (PageRank's
  * and label propagation's unrolled supersteps) instead keeps its edges
  * a lazy `repartition(src)`: every superstep's join keys on the same
  * exchange subtree and ReuseExchange shuffles it once, inside the
  * consuming job. */
private[graft] object GraphLoops {

  /** Both orientations of an undirected (a, b) relation as (src, dst). */
  def bothWays(und: DataFrame): DataFrame =
    und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))

  /** Undirected degree per endpoint of an (a, b) relation: (node, deg). */
  def nodeDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** The strong-tie walk relation: co-order edges of weight ≥
    * `minWeight` in both orientations as (src, dst), checkpointed
    * hash-partitioned by `src`, the key every frontier or matvec join
    * uses. On the raw co-order graph one hop reaches everything; the
    * threshold is what makes hop structure mean something. */
  def strongTies(edges: DataFrame, minWeight: Long): DataFrame =
    bothWays(edges.filter(col("w") >= minWeight))
      .repartition(col("src"))
      .localCheckpoint(eager = false)

  /** The deterministic seed sample: parts whose md5 starts '00' (~1/256
    * of nodes, engine-replayable, scale-invariant share), as (node). */
  def seedSample(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_partkey").as("node")).distinct()
      .filter(substring(md5(col("node").cast("string")), 1, 2) === "00")

  /** Round-capped frontier BFS over a [[strongTies]] relation from
    * `seeds` (seed, node): every seed class starts at depth 0 on its
    * node(s), and classes never interact. Returns (seed, node, depth),
    * the hop count of each (class, node) pair within `rounds` hops.
    * Each round is one frontier-edge equi-join plus one anti-join
    * against the visited set, and checkpoints only its NEW layer; the
    * visited set is the lazy union of the checkpointed layers, so no
    * round re-materializes the whole prefix. */
  def bfs(ties: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"bad rounds=$rounds")
    var visited = seeds.select(col("seed"), col("node"), lit(0L).as("depth"))
      .localCheckpoint(eager = false)
    var frontier = visited
    for (d <- 1 to rounds) {
      frontier = ties
        .join(frontier.select(col("seed"), col("node").as("src")), Seq("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(d.toLong).as("depth"))
        .localCheckpoint(eager = false)
      visited = visited.unionByName(frontier)
    }
    visited
  }

  /** A convergence probe for [[supersteps]]: `value` reads one number
    * off a state; `loop` names the loop in the divergence error. */
  final case class Probe(loop: String, value: DataFrame => Any)

  /** The superstep loop: state(s) = step(state(s − 1)), each state a
    * local checkpoint so step s plans over a leaf, never over s steps
    * of lineage. Returns every state after `init`, in order.
    *
    * Without a probe it runs exactly `maxSteps` steps, and each state
    * is materialized by the query that reads it next. With one it
    * stops at the first step whose probe value equals the previous
    * state's, and throws when `maxSteps` pass without that. The probe
    * must be a FULL-SCAN aggregate: it is the action that materializes
    * each state (`init` included, which it also reads), so a step runs
    * no separate checkpoint job; a partial scan (limit, head of an
    * unaggregated frame) would leave the checkpoint to a catch-up job. */
  def supersteps(init: DataFrame, maxSteps: Int,
                 probe: Option[Probe] = None)(
      step: DataFrame => DataFrame): Seq[DataFrame] = {
    val states = Seq.newBuilder[DataFrame]
    var state = if (probe.isDefined) init.localCheckpoint(eager = false) else init
    var last = probe.map(_.value(state))
    var fixpoint = false
    for (_ <- 1 to maxSteps if !fixpoint) {
      state = step(state).localCheckpoint(eager = false)
      states += state
      probe.foreach { p =>
        val v = Some(p.value(state))
        fixpoint = v == last
        last = v
      }
    }
    if (probe.isDefined && !fixpoint)
      throw new IllegalStateException(
        s"${probe.get.loop} did not converge in $maxSteps steps")
    states.result()
  }
}
